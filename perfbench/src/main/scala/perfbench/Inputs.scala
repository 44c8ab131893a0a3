package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. The same seed always gives the same inputs; the
  * program under test only ever sees the generated rows. */
object Inputs {

  val FirstNames: Array[String] = Array(
    "James", "Mary", "Robert", "Patricia", "John", "Jennifer", "Michael", "Linda",
    "David", "Elizabeth", "William", "Barbara", "Richard", "Susan", "Joseph", "Jessica",
    "Thomas", "Sarah", "Charles", "Karen", "Christopher", "Lisa", "Daniel", "Nancy",
    "Matthew", "Betty", "Anthony", "Sandra", "Mark", "Margaret", "Donald", "Ashley",
    "Steven", "Kimberly", "Andrew", "Emily", "Paul", "Donna", "Joshua", "Michelle",
    "Kenneth", "Carol", "Kevin", "Amanda", "Brian", "Melissa", "George", "Deborah",
    "Timothy", "Stephanie", "Ronald", "Rebecca", "Jason", "Sharon", "Edward", "Laura",
    "Jeffrey", "Cynthia", "Ryan", "Dorothy", "Jacob", "Amy", "Gary", "Kathleen")

  val LastNames: Array[String] = Array(
    "Smith", "Johnson", "Williams", "Brown", "Jones", "Garcia", "Miller", "Davis",
    "Rodriguez", "Martinez", "Hernandez", "Lopez", "Gonzalez", "Wilson", "Anderson",
    "Thomas", "Taylor", "Moore", "Jackson", "Martin", "Lee", "Perez", "Thompson",
    "White", "Harris", "Sanchez", "Clark", "Ramirez", "Lewis", "Robinson", "Walker",
    "Young", "Allen", "King", "Wright", "Scott", "Torres", "Nguyen", "Hill", "Flores",
    "Green", "Adams", "Nelson", "Baker", "Hall", "Rivera", "Campbell", "Mitchell",
    "Carter", "Roberts", "Gomez", "Phillips", "Evans", "Turner", "Diaz", "Parker",
    "Cruz", "Edwards", "Collins", "Reyes", "Stewart", "Morris", "Morales", "Murphy")

  private val Syllables: Array[String] = Array(
    "ka", "ren", "vo", "lin", "mar", "tes", "do", "ria", "bel", "son", "fa", "gun",
    "hal", "ine", "jo", "ker", "lu", "mo", "nay", "or", "pel", "qui", "ros", "sta",
    "tor", "ul", "ven", "wes", "ya", "zel", "bri", "cor", "dan", "eli", "fen", "gar")

  /** "First Last" names drawn from the 64 × 64 pools: at most 4 096 distinct keys. */
  def pooledNames(n: Int, rng: SplittableRandom): Array[String] =
    Array.fill(n)(s"${FirstNames(rng.nextInt(FirstNames.length))} ${LastNames(rng.nextInt(LastNames.length))}")

  /** `n` pairwise-distinct "First Syllabic" names. */
  def distinctNames(n: Int, rng: SplittableRandom): Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val parts = 2 + rng.nextInt(3)
      val last = (0 until parts).map(_ => Syllables(rng.nextInt(Syllables.length))).mkString
      seen += s"${FirstNames(rng.nextInt(FirstNames.length))} ${last.capitalize}"
    }
    seen.toArray
  }

  /** One lowercase letter of `s` replaced by a different lowercase letter. */
  def typo(s: String, rng: SplittableRandom): String = {
    val positions = s.indices.filter(i => s(i) >= 'a' && s(i) <= 'z')
    val p = positions(rng.nextInt(positions.length))
    var c = s(p)
    while (c == s(p)) c = ('a' + rng.nextInt(26)).toChar
    s.updated(p, c)
  }

  /** Typos of `n` distinct sampled `from` names, none equal to a name in
    * `taken` (which should hold `from`) or to each other. */
  def typosOf(from: Array[String], taken: String => Boolean, n: Int, rng: SplittableRandom): Array[String] = {
    val used = mutable.HashSet.empty[Int]
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < n) {
      val i = rng.nextInt(from.length)
      if (!used(i)) {
        val t = typo(from(i), rng)
        if (!taken(t) && !out(t)) { used += i; out += t }
      }
    }
    out.toArray
  }

  // ---------------------------------------------------------------------------
  // Curation crawl
  // ---------------------------------------------------------------------------

  val EnglishStops: Array[String] = Array("the", "a", "of", "and", "to", "in", "is", "it")
  val GermanStops: Array[String] = Array("der", "die", "das", "und", "ist", "ein", "nicht")
  val Sources: Array[String] = Array("web", "books", "news", "forum", "wiki")
  private val SourceWeights = Array(0.45, 0.15, 0.2, 0.12, 0.08)

  /** One crawled document. `origin` is the id of the document it was planted
    * from (exact or near copy), or -1. */
  final case class Doc(id: Long, source: String, text: String, nTokens: Long, origin: Long, kind: String)

  /** Zipf(1.1) sampler over a synthetic vocabulary of `v` words. */
  final class Zipf(v: Int, rng: SplittableRandom) {
    val words: Array[String] = {
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < v) {
        val parts = 1 + rng.nextInt(3)
        val w = (0 until parts).map(_ => Syllables(rng.nextInt(Syllables.length))).mkString
        if (w.length >= 3 && !EnglishStops.contains(w) && !GermanStops.contains(w)) seen += w
      }
      seen.toArray
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(v)(i => 1.0 / math.pow(i + 1, 1.1))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def next(): String = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      words(math.min(if (i >= 0) i else -i - 1, v - 1))
    }
  }

  /** A seeded crawl of `n` documents: mostly English prose over a Zipf
    * vocabulary, plus off-language and low-quality documents, a few documents
    * longer than a packing bin, and planted exact and near duplicates (copies
    * of lower-id documents). */
  def crawl(n: Int, rng: SplittableRandom): Array[Doc] = {
    val zipf = new Zipf(5000, rng)
    def prose(words: Int, stops: Array[String]): Array[String] =
      Array.fill(words)(if (rng.nextDouble() < 0.3) stops(rng.nextInt(stops.length)) else zipf.next())
    def sentence(ws: Array[String]): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < ws.length) {
        val w = if (i == 0 || ws(i - 1).endsWith(".")) ws(i).capitalize else ws(i)
        if (i > 0) sb += ' '
        sb ++= w
        if (i % 12 == 11) sb += '.'
        i += 1
      }
      sb += '.'
      sb.toString
    }
    def source(): String = {
      val u = rng.nextDouble()
      var acc = 0.0
      var i = 0
      while (i < SourceWeights.length - 1 && u >= acc + SourceWeights(i)) { acc += SourceWeights(i); i += 1 }
      Sources(i)
    }
    val docs = new Array[Doc](n)
    val words = new Array[Array[String]](n)
    var id = 0
    while (id < n) {
      val u = rng.nextDouble()
      val (ws, kind, origin) =
        if (id > 10 && u < 0.05) { // exact copy of an earlier document
          val o = rng.nextInt(id)
          (words(o), "exact", o.toLong)
        } else if (id > 10 && u < 0.11) { // near copy: a few words substituted
          val o = rng.nextInt(id)
          val c = words(o).clone()
          (0 until 1 + rng.nextInt(3)).foreach(_ => c(rng.nextInt(c.length)) = zipf.next())
          (c, "near", o.toLong)
        } else if (u < 0.16) (prose(40 + rng.nextInt(120), GermanStops), "german", -1L)
        else if (u < 0.21) {
          (Array.fill(30 + rng.nextInt(60))(
            if (rng.nextDouble() < 0.7) (1000 + rng.nextInt(90000)).toString else zipf.next()), "junk", -1L)
        } else if (u < 0.214) (prose(2100 + rng.nextInt(400), EnglishStops), "long", -1L)
        else (prose(40 + rng.nextInt(120), EnglishStops), "prose", -1L)
      words(id) = ws
      val text = if (kind == "exact") docs(origin.toInt).text else sentence(ws)
      docs(id) = Doc(id.toLong, source(), text, ws.length.toLong, origin, kind)
      id += 1
    }
    docs
  }
}
