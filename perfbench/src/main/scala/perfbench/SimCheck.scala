package perfbench

/**
 * Brute-force similarity check, written apart from graft's code.
 *
 * The paper's formula: tokens are the set of 3-character windows whose
 * characters all lie in `a..z`; the score of a pair is |l ∩ r| / (√|l|·√|r|);
 * only pairs with a score above 0 are candidates; a left row keeps its `topN`
 * best candidates by (score desc, right id asc).
 *
 * Scores are ordered exactly, as rationals. Candidates of one left row with
 * the same (overlap, right token count) have bit-identical scores in any
 * implementation, so among them the right id order is always checked. Only
 * candidates whose pairs differ but whose scores are equal as rationals may
 * round apart in floating point; at the top-n cut the check accepts either
 * order between such groups, and nowhere else.
 */
object SimCheck {

  /** Sorted distinct trigram codes of `s`. */
  def tokens(s: String): Array[Int] = {
    if (s == null) return Array.emptyIntArray
    val set = scala.collection.mutable.SortedSet.empty[Int]
    for (i <- 0 to s.length - 3) {
      val w = s.substring(i, i + 3)
      if (w.forall(c => c >= 'a' && c <= 'z')) set += ((w(0) - 'a') * 676 + (w(1) - 'a') * 26 + (w(2) - 'a'))
    }
    set.toArray
  }

  /** |a ∩ b| of two sorted arrays. */
  def overlap(a: Array[Int], b: Array[Int]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { n += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    n
  }

  def score(inter: Int, nl: Int, nr: Int): Double =
    if (inter == 0) 0.0 else inter / (math.sqrt(nl.toDouble) * math.sqrt(nr.toDouble))

  /** A candidate of one left row: right id, overlap, right token count. */
  final case class Cand(rid: Long, inter: Int, nr: Int) {
    /** Exact comparison of scores for the same left row: inter/√nr. */
    def cmp(o: Cand): Int =
      java.lang.Long.compare(inter.toLong * inter * o.nr, o.inter.toLong * o.inter * nr)
  }

  private def best(cands: Iterable[Cand]): IndexedSeq[Cand] =
    cands.toIndexedSeq.sortWith((a, b) => { val c = a.cmp(b); c > 0 || (c == 0 && a.rid < b.rid) })

  /** Every candidate of `left` over all right rows, best first: a full scan. */
  def ranked(left: Array[Int], rightIds: Array[Long], right: Array[Array[Int]]): IndexedSeq[Cand] =
    best(right.indices.iterator.map(j => (j, overlap(left, right(j)))).collect {
      case (j, k) if k > 0 => Cand(rightIds(j), k, right(j).length)
    }.toSeq)

  /** The right side with a token -> rows map, so that ranking one left row
    * visits only the right rows sharing a token with it (the same candidates
    * as the full scan, which the checker's tests compare it with). */
  final class RightSide(val ids: Array[Long], val toks: Array[Array[Int]]) {
    private val rows: Map[Int, Array[Int]] =
      toks.indices.flatMap(j => toks(j).map(t => (t, j))).groupMap(_._1)(_._2).map { case (t, js) => (t, js.toArray) }
    private val counts = new Array[Int](ids.length)

    def ranked(left: Array[Int]): IndexedSeq[Cand] = {
      val touched = scala.collection.mutable.ArrayBuffer.empty[Int]
      left.foreach(t => rows.getOrElse(t, Array.emptyIntArray).foreach { j =>
        if (counts(j) == 0) touched += j
        counts(j) += 1
      })
      val out = touched.map(j => Cand(ids(j), counts(j), toks(j).length))
      touched.foreach(j => counts(j) = 0)
      best(out)
    }
  }

  /**
   * Checks the emitted rows `(rid, sim)` of one left row against its ranked
   * candidates: the count is min(topN, candidates), every candidate strictly
   * better than the n-th is present, every other emitted id ties the n-th
   * exactly, and within each group of tied candidates with the same
   * (overlap, right token count) the emitted ids are the lowest of the group.
   * Returns an error message, or None.
   */
  def checkTopN(ranked: IndexedSeq[Cand], emitted: Seq[(Long, Double)], topN: Int): Option[String] = {
    val m = math.min(topN, ranked.length)
    if (emitted.length != m) return Some(s"${emitted.length} rows emitted, expected $m")
    if (m == 0) return None
    val cut = ranked(m - 1)
    val required = ranked.take(m).filter(_.cmp(cut) > 0).map(_.rid).toSet
    val tied = ranked.filter(_.cmp(cut) == 0).map(_.rid).toSet
    val got = emitted.map(_._1).toSet
    if (got.size != emitted.length) return Some("a right id is emitted twice")
    val missing = required -- got
    if (missing.nonEmpty) return Some(s"missing right ids ${missing.take(5).mkString(",")}")
    val extra = got -- required -- tied
    if (extra.nonEmpty) return Some(s"right ids ${extra.take(5).mkString(",")} are not in the top $topN")
    ranked.filter(_.cmp(cut) == 0).groupBy(c => (c.inter, c.nr)).valuesIterator.foreach { same =>
      val ids = same.map(_.rid).sorted
      val taken = ids.count(got)
      ids.drop(taken).find(got).foreach { r =>
        return Some(s"right id $r is emitted before the lower right id ${ids.take(taken).find(!got(_)).get} of an identical score")
      }
    }
    None
  }

  /**
   * Checks a whole join result `(lid, rid, sim)`: at most `topN` rows per left
   * id, every sim equal to the recomputed score within 1e-9, and the full
   * top-n list of every left id in `sample` (ids of the rows in `ranked`).
   */
  def checkJoin(
      rows: Seq[(Long, Long, Double)],
      leftTokens: Long => Array[Int], rightTokens: Long => Array[Int],
      sample: Map[Long, IndexedSeq[Cand]], topN: Int): Option[String] = {
    val byLeft = rows.groupBy(_._1)
    byLeft.find(_._2.length > topN).foreach { case (lid, rs) =>
      return Some(s"left id $lid has ${rs.length} rows, more than top_n=$topN")
    }
    rows.foreach { case (lid, rid, sim) =>
      val l = leftTokens(lid); val r = rightTokens(rid)
      if (l == null || r == null) return Some(s"unknown id in row ($lid, $rid)")
      val want = score(overlap(l, r), l.length, r.length)
      if (!(math.abs(sim - want) <= 1e-9)) return Some(s"sim of ($lid, $rid) is $sim, recomputed $want")
    }
    sample.foreach { case (lid, cands) =>
      val emitted = byLeft.getOrElse(lid, Seq.empty).map(r => (r._2, r._3))
      checkTopN(cands, emitted, topN).foreach(e => return Some(s"left id $lid: $e"))
    }
    None
  }
}
