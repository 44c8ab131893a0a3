package perfbench

import java.util.SplittableRandom

import org.scalatest.funsuite.AnyFunSuite

/** The checkers against hand-derived values (the reference's golden cases
  * and README example for the similarity formula), and against corrupted
  * results each of them must reject. */
class CheckSpec extends AnyFunSuite {

  private def top(left: Seq[String], right: Seq[String], n: Int): Seq[(Int, Long, Double)] =
    left.zipWithIndex.flatMap { case (l, i) =>
      val lt = SimCheck.tokens(l)
      SimCheck.ranked(lt, right.indices.map(_.toLong).toArray, right.map(SimCheck.tokens).toArray)
        .take(n).map(c => (i, c.rid, SimCheck.score(c.inter, lt.length, c.nr)))
    }

  private def near(a: Seq[(Int, Long, Double)], b: Seq[(Int, Long, Double)]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) => x._1 == y._1 && x._2 == y._2 && math.abs(x._3 - y._3) < 1e-6 }

  test("golden cases of the reference's tests") {
    val r3 = 1 / math.sqrt(3)
    assert(near(top(Seq("zzz"), Seq("zzz"), 1), Seq((0, 0L, 1.0))))
    assert(near(top(Seq("aaa"), Seq("aaa"), 1), Seq((0, 0L, 1.0))))
    assert(near(top(Seq("aaabb"), Seq("aaa"), 1), Seq((0, 0L, r3))))
    assert(near(top(Seq("aaa"), Seq("aaabb"), 1), Seq((0, 0L, r3))))
    assert(near(top(Seq("abc"), Seq("abcabc"), 1), Seq((0, 0L, r3))))
    assert(near(top(Seq("abc", "def"), Seq("abc", "aaa"), 1), Seq((0, 0L, 1.0))))
    assert(near(top(Seq("abc", "def", "aaabxy"), Seq("abc", "aaa"), 1), Seq((0, 0L, 1.0), (2, 1L, 0.5))))
  }

  test("README example: space breaks trigrams, unmatched rows drop out") {
    val got = top(Seq("alice", "bob", "charlie", "david"), Seq("ali", "alice in wonderland", "bobby", "tom"), 4)
    assert(near(got, Seq((0, 0L, 0.57735), (0, 1L, 0.522233), (1, 2L, 0.57735))))
  }

  test("tokens keep only all-lowercase windows, once each") {
    assert(SimCheck.tokens("ab").isEmpty)
    assert(SimCheck.tokens("ABC a-b-c").isEmpty)
    assert(SimCheck.tokens("abcabc").length == 3)
    assert(SimCheck.tokens("James Smith").length == 4) // ame mes mit ith
  }

  test("the indexed ranking equals the full scan") {
    val rng = new SplittableRandom(7)
    val right = Inputs.distinctNames(3000, rng)
    val ids = right.indices.map(_.toLong * 3 + 1).toArray
    val toks = right.map(SimCheck.tokens)
    val side = new SimCheck.RightSide(ids, toks)
    Inputs.typosOf(right, right.toSet, 50, rng).foreach { q =>
      val t = SimCheck.tokens(q)
      assert(side.ranked(t) == SimCheck.ranked(t, ids, toks))
    }
  }

  private val left = Inputs.pooledNames(40, new SplittableRandom(3))
  private val right = Inputs.pooledNames(600, new SplittableRandom(4))
  private val lt = left.map(SimCheck.tokens)
  private val rt = right.map(SimCheck.tokens)
  private val rside = new SimCheck.RightSide(right.indices.map(_.toLong).toArray, rt)
  private val all = left.indices.map(i => i.toLong -> rside.ranked(lt(i))).toMap
  private val good = all.toSeq.flatMap { case (l, cs) =>
    cs.take(5).map(c => (l, c.rid, SimCheck.score(c.inter, lt(l.toInt).length, c.nr)))
  }
  private def check(rows: Seq[(Long, Long, Double)]) =
    SimCheck.checkJoin(rows, l => lt.lift(l.toInt).orNull, r => rt.lift(r.toInt).orNull, all, 5)

  test("a correct join passes") {
    assert(good.nonEmpty)
    assert(check(good).isEmpty)
  }

  test("a swapped right id is rejected") {
    val (l, r, sim) = good.head
    val kept = all(l).find(_.rid == r).get
    val other = all(l).drop(5).find(_.cmp(kept) != 0).get
    assert(check(good.updated(0, (l, other.rid, sim))).isDefined)
  }

  test("a sim off by 1e-6 is rejected") {
    val (l, r, sim) = good.head
    assert(check(good.updated(0, (l, r, sim + 1e-6))).isDefined)
  }

  test("more than top_n rows, or a dropped row, is rejected") {
    val (l, _, _) = good.head
    val extra = all(l)(5)
    assert(check(good :+ ((l, extra.rid, SimCheck.score(extra.inter, lt(l.toInt).length, extra.nr)))).isDefined)
    assert(check(good.tail).isDefined)
  }

  test("among identical scores the lower right ids come first") {
    // "abcx", "abcy" and "abcz" share (overlap 1, 2 tokens) with "abc"
    val cands = SimCheck.ranked(SimCheck.tokens("abc"), Array(0L, 1L, 2L), Array("abcx", "abcy", "abcz").map(SimCheck.tokens))
    assert(SimCheck.checkTopN(cands, Seq((0L, 0.7071), (1L, 0.7071)), 2).isEmpty)
    assert(SimCheck.checkTopN(cands, Seq((0L, 0.7071), (2L, 0.7071)), 2).isDefined)
    assert(SimCheck.checkTopN(cands, Seq((2L, 0.7071)), 1).isDefined)
  }

  test("a higher right id swapped in among identical copies is rejected") {
    // the pooled names repeat: find a left row whose top 5 cut runs through
    // several identical right copies, and emit a later copy for an earlier one
    val (l, cs) = all.find { case (_, cs) =>
      cs.length > 5 && cs(4).inter == cs(5).inter && cs(4).nr == cs(5).nr
    }.get
    val rows = good.filter(_._1 == l)
    val swapped = rows.map(r => if (r._2 == cs(4).rid) (r._1, cs(5).rid, r._3) else r)
    assert(check(good.filterNot(_._1 == l) ++ swapped).isDefined)
  }

  test("an exact tie of different pairs at the top-n cut may go either way, nowhere else") {
    // "abcde" has 3 tokens; "bcdeyy" shares 2 of its 4, "abc" 1 of its 1:
    // 2/(√3·√4) = 1/(√3·√1) as rationals, though the pairs differ
    val cands = SimCheck.ranked(SimCheck.tokens("abcde"), Array(0L, 1L), Array("bcdeyy", "abc").map(SimCheck.tokens))
    assert(cands.map(c => (c.rid, c.inter, c.nr)) == Seq((0L, 2, 4), (1L, 1, 1)))
    assert(SimCheck.checkTopN(cands, Seq((0L, 0.57735)), 1).isEmpty)
    assert(SimCheck.checkTopN(cands, Seq((1L, 0.57735)), 1).isEmpty)
    assert(SimCheck.checkTopN(cands, Seq((1L, 0.57735)), 2).isDefined)
  }

  // ---------------------------------------------------------------------------
  // curation
  // ---------------------------------------------------------------------------

  test("quality and langid follow the documented formulas") {
    // 16 letters in 21 chars, 6 words, 3 English stopwords
    val q = 0.4 * 16 / 21 + 0.4 * 1.0 + 0.2 * (16.0 / 6 / 8)
    assert(CurateCheck.quality("the cat is on the mat") == BigDecimal(q).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(CurateCheck.quality("") == 0.0)
    assert(CurateCheck.quality("1234 5678") == 0.0)
    assert(CurateCheck.langid("the cat is on the mat") == "en")
    assert(CurateCheck.langid("der hund und die katze") == "de")
    assert(CurateCheck.langid("le chat et la souris") == "fr")
    assert(CurateCheck.langid("no stopwords here") == "en") // all counts tie at 0
  }

  test("tHash and the rendezvous shard") {
    assert(CurateCheck.tHash("12") == 49 + 50 * 31)
    assert(Seq(0L, 1L, 7L, 123456789L).map(CurateCheck.shard(_, 8)) == Seq(7L, 2L, 3L, 6L))
  }

  private val prose = "the river is wide and the boat is slow and it carries grain to the town of mills " +
    "where the bakers work at night and the market opens at dawn for the farmers of the valley"
  private val docs = Seq(
    Inputs.Doc(0, "web", prose, 34, -1, "prose"),
    Inputs.Doc(1, "web", prose, 34, 0, "copy"),                                  // exact copy
    Inputs.Doc(2, "news", prose.replace("slow", "fast"), 34, 0, "copy"),          // near copy
    Inputs.Doc(3, "web", "der hund und die katze ist nicht das ein tier der stadt", 12, -1, "prose"),
    Inputs.Doc(4, "web", "1234 5678 9999 0000 1111 2222 abc", 7, -1, "prose"),
    Inputs.Doc(5, "books", prose.replace("river", "canal").replace("boat", "barge")
      .replace("grain", "coal").replace("bakers", "smiths"), 34, -1, "prose"))

  test("post-exact set and near-dup losers of a hand-made crawl") {
    val (a, e) = CurateCheck.expectedClean(docs, 0.5, Set("en"), 4, 5)
    assert(a == Set(0L, 2L, 5L))
    assert(e == Set(2L))
  }

  test("survivors: an LSH miss is counted, a dropped survivor of A∖E is rejected") {
    val a = Set(0L, 2L, 5L); val e = Set(2L)
    assert(CurateCheck.checkSurvivors(Set(0L, 5L), a, e) == ((None, 0)))
    assert(CurateCheck.checkSurvivors(Set(0L, 2L, 5L), a, e) == ((None, 1)))
    assert(CurateCheck.checkSurvivors(Set(0L), a, e)._1.isDefined)
    assert(CurateCheck.checkSurvivors(Set(0L, 1L, 5L), a, e)._1.isDefined)
  }

  test("greedy bins, and an over-capacity bin is rejected") {
    val rows = Seq(("a", 1L, 60L), ("a", 2L, 50L), ("a", 3L, 30L), ("a", 4L, 200L), ("b", 9L, 10L))
    val bins = CurateCheck.expectedBins(rows, 100)
    assert(bins == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 9L -> 0L))
    val packed = rows.map { case (s, id, n) => (s, id, n, bins(id)) }
    assert(CurateCheck.checkBins(packed, 100).isEmpty) // doc 4 alone over capacity is fine
    assert(CurateCheck.checkBins(packed.map(p => if (p._2 == 2L) p.copy(_4 = 0L) else p), 100).isDefined)
    assert(CurateCheck.checkBins(packed.map(p => if (p._2 == 1L) p.copy(_4 = 1L) else if (p._2 == 2L) p.copy(_4 = 0L) else p), 100).isDefined)
  }

  test("curation quotas and priority order") {
    val ds = (0 until 20).map(i => Inputs.Doc(i, if (i < 16) "web" else "wiki", s"$prose $i", 34, -1, "prose"))
    val got = CurateCheck.expectedCurate(ds, 0.5, 5)
    // weights ⌊√16⌋ = 4 and ⌊√4⌋ = 2: quotas 4·5 div 6 = 3 and 2·5 div 6 = 1
    assert(got.values.count(_._1 == "web") == 3 && got.values.count(_._1 == "wiki") == 1)
    val web = (0 until 16).sortBy(i => (CurateCheck.tHash(i.toString) % 1048576L, i)).take(3)
    assert(web.zipWithIndex.forall { case (id, r) => got(id.toLong) == (("web", r + 1L)) })
  }

  test("generators are deterministic in the seed") {
    assert(Inputs.crawl(300, new SplittableRandom(5)).toSeq == Inputs.crawl(300, new SplittableRandom(5)).toSeq)
    assert(Inputs.crawl(300, new SplittableRandom(5)).toSeq != Inputs.crawl(300, new SplittableRandom(6)).toSeq)
    val names = Inputs.distinctNames(500, new SplittableRandom(1))
    val typos = Inputs.typosOf(names, names.toSet, 100, new SplittableRandom(2))
    assert(names.distinct.length == 500 && typos.distinct.length == 100 && !typos.exists(names.contains))
  }
}
