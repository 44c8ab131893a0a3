package perfbench

import scala.collection.mutable

import Inputs.Doc

/**
 * Independent recomputation of the curation run, written apart from graft's
 * code from the documented rules:
 *
 *  - quality = 0.4·alpha/chars + 0.4·min(3·stops/words, 1) + 0.2·min(alpha/words/8, 1),
 *    rounded half-up to 6 decimals, 0 for a text without chars or words, where
 *    words are the `[a-z]+` runs of the lowercased text, alpha counts ASCII
 *    letters and stops counts English stopwords;
 *  - langid = the first language whose stopword count is at least every later
 *    language's count (the last language when none is);
 *  - exact dedup keeps the lowest id of each identical text;
 *  - near duplicates are pairs whose 3-word-shingle Jaccard is at least the
 *    threshold; the higher id of such a pair is a loser;
 *  - curation keeps docs with quality ≥ its threshold, gives source s the quota
 *    ⌊√n_s⌋·budget div Σ⌊√n⌋ and takes each source's docs in order of
 *    (tHash(id) mod 2^20, id);
 *  - greedy packing walks each source in id order and opens a new bin when the
 *    next doc would overflow a non-empty bin;
 *  - a doc's shard is the smallest s maximising
 *    ((id mod 1000003)·8191 + s) mod 1000003 · 2654435761 mod 1000003.
 */
object CurateCheck {

  val Langs: Seq[(String, Set[String])] = Seq(
    "en" -> Set("the", "a", "of", "and", "to", "in", "is", "it"),
    "de" -> Set("der", "die", "das", "und", "ist", "ein", "nicht"),
    "fr" -> Set("le", "la", "les", "et", "est", "un", "une"),
    "es" -> Set("el", "los", "las", "y", "es", "uno", "como"),
    "zh" -> Set("zhe", "shi", "bu", "wo", "ni"))

  private val Word = "[a-z]+".r

  def words(text: String): Seq[String] = Word.findAllIn(text.toLowerCase(java.util.Locale.ROOT)).toSeq

  def quality(text: String): Double = {
    val ws = words(text)
    if (text.isEmpty || ws.isEmpty) return 0.0
    val chars = text.length.toDouble
    val n = ws.length.toDouble
    val alpha = text.count(c => (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')).toDouble
    val stops = ws.count(Langs.head._2).toDouble
    val s = 0.4 * (alpha / chars) + 0.4 * math.min(3.0 * (stops / n), 1.0) +
      0.2 * math.min((alpha / n) / 8.0, 1.0)
    BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  def langid(text: String): String = {
    val ws = words(text)
    val counts = Langs.map { case (l, set) => (l, ws.count(set)) }
    counts.indices.init.find(i => counts.drop(i + 1).forall(_._2 <= counts(i)._2))
      .map(i => counts(i)._1).getOrElse(counts.last._1)
  }

  def shingles(text: String): Set[String] = words(text).sliding(3).collect {
    case Seq(a, b, c) => s"$a $b $c"
  }.toSet

  /** Jaccard(a, b) ≥ threshold, decided exactly for threshold = num/den. */
  def nearDup(a: Set[String], b: Set[String], num: Int, den: Int): Boolean = {
    if (a.isEmpty || b.isEmpty) return false
    val inter = a.count(b)
    val union = a.size + b.size - inter
    inter.toLong * den >= union.toLong * num
  }

  /** Code-point hash Σ cp·31^(i mod 8) of a string; curation orders docs by
    * that of the id's decimal string. */
  def tHash(s: String): Long = {
    val w = Array.iterate(1L, 8)(_ * 31)
    s.codePoints().toArray.zipWithIndex.map { case (cp, i) => cp.toLong * w(i % 8) }.sum
  }

  def shard(id: Long, nShards: Int): Long = {
    val w = (0 until nShards).map(s => ((id % 1000003) * 8191 + s) % 1000003 * 2654435761L % 1000003)
    w.indexOf(w.max).toLong
  }

  /** The post-exact-dedup set A and the near-dup losers E ⊆ A, where E holds
    * every id of A with a lower-id partner in A at Jaccard ≥ num/den. The
    * partners are searched among documents linked by planted copies (`origin`),
    * the only ones the generator makes similar. */
  def expectedClean(docs: Seq[Doc], minQuality: Double, langs: Set[String],
      num: Int, den: Int): (Set[Long], Set[Long]) = {
    val passed = docs.filter(d => quality(d.text) >= minQuality && langs(langid(d.text)))
    val a = passed.groupBy(_.text).values.map(_.minBy(_.id).id).toSet
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    docs.foreach(d => if (d.origin >= 0) parent(find(d.id)) = find(d.origin))
    val byId = docs.map(d => d.id -> d).toMap
    val e = mutable.HashSet.empty[Long]
    a.groupBy(find).values.foreach { group =>
      val members = group.toSeq.sorted.map(id => (id, shingles(byId(id).text)))
      for (j <- members.indices; i <- 0 until j)
        if (nearDup(members(i)._2, members(j)._2, num, den)) e += members(j)._1
    }
    (a, e.toSet)
  }

  /** Survivors must satisfy A∖E ⊆ S ⊆ A. Returns (error, losers LSH missed). */
  def checkSurvivors(s: Set[Long], a: Set[Long], e: Set[Long]): (Option[String], Int) = {
    val outside = s -- a
    val dropped = (a -- e) -- s
    val err =
      if (outside.nonEmpty) Some(s"survivors ${outside.take(5).mkString(",")} are not in the post-exact set")
      else if (dropped.nonEmpty) Some(s"docs ${dropped.take(5).mkString(",")} have no near duplicate but were dropped")
      else None
    (err, (s intersect e).size)
  }

  /** Expected curation (id -> (source, rank)) of the survivor docs. */
  def expectedCurate(docs: Seq[Doc], minQuality: Double, budget: Long): Map[Long, (String, Long)] = {
    val kept = docs.filter(d => quality(d.text) >= minQuality)
      .groupBy(_.text).values.map(_.minBy(_.id)).toSeq
    val bySource = kept.groupBy(_.source)
    val weight = bySource.map { case (s, ds) => s -> math.floor(math.sqrt(ds.size.toDouble)).toLong }
    val total = weight.values.sum
    bySource.flatMap { case (s, ds) =>
      val quota = weight(s) * budget / total
      ds.sortBy(d => (tHash(d.id.toString) % 1048576L, d.id)).zipWithIndex
        .takeWhile(_._2 < quota).map { case (d, i) => d.id -> (s, i + 1L) }
    }
  }

  /** Expected greedy bins (id -> bin) of `(source, id, nTokens)` rows. */
  def expectedBins(rows: Seq[(String, Long, Long)], capacity: Long): Map[Long, Long] =
    rows.groupBy(_._1).values.flatMap { rs =>
      var acc = 0L; var bin = 0L
      rs.sortBy(_._2).map { case (_, id, n) =>
        if (acc > 0 && acc + n > capacity) { bin += 1; acc = 0 }
        acc += n
        id -> bin
      }
    }.toMap

  /** Bin properties of packed rows `(source, id, nTokens, bin)`: no bin over
    * capacity unless it holds one doc, and bins follow ascending ids within
    * a source. */
  def checkBins(rows: Seq[(String, Long, Long, Long)], capacity: Long): Option[String] = {
    rows.groupBy(r => (r._1, r._4)).foreach { case ((s, b), rs) =>
      if (rs.size > 1 && rs.map(_._3).sum > capacity)
        return Some(s"bin $b of $s holds ${rs.map(_._3).sum} tokens in ${rs.size} docs, over $capacity")
    }
    rows.groupBy(_._1).foreach { case (s, rs) =>
      val sorted = rs.sortBy(_._2)
      sorted.zip(sorted.drop(1)).find { case (x, y) => y._4 < x._4 }.foreach { case (x, y) =>
        return Some(s"$s: id ${y._2} is in bin ${y._4}, before bin ${x._4} of lower id ${x._2}")
      }
    }
    None
  }
}
