package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CleanCorpus, CuratePipeline, Packing, SimJoin, SimJoinOptions, SimSearch}

/** Times one operation's phases: each public call (`build`) and each sink
  * (`run`), per stage of the operation. */
final class OpTimer(opSpan: Int, nextId: () => Int) {
  val phases = mutable.ArrayBuffer.empty[Span]
  val stageMs = mutable.LinkedHashMap.empty[String, Double]
  var buildUs = 0L
  var runUs = 0L

  def build[T](stage: String)(body: => T): T = timed(stage, "build")(body)
  def run[T](stage: String)(body: => T): T = timed(stage, "run")(body)

  private def timed[T](stage: String, kind: String)(body: => T): T = {
    val s = Clock.nowUs
    val r = body
    val e = Clock.nowUs
    phases += Span(nextId(), opSpan, s"$stage.$kind", s, e)
    if (kind == "build") buildUs += e - s else runUs += e - s
    stageMs(stage) = stageMs.getOrElse(stage, 0.0) + (e - s) / 1000.0
    r
  }

  def seconds: Double = (buildUs + runUs) / 1e6
  def startUs: Long = phases.head.startUs
  def endUs: Long = phases.last.endUs
}

/** What an operation produced, and whether its output passed the check. */
final case class OpOutcome(rows: Long, error: Option[String], notes: Map[String, Double] = Map.empty)

trait Workload {
  def name: String
  /** Strings the row-kernel timings run on. */
  def kernelStrings: Array[String]
  /** Fewest warm operations a run makes, whatever its length. */
  def minWarm: Int
  /** Runs operation `i` (0 is the cold one), timing its calls and sinks
    * with `t`; returns the check of its output, which the caller runs
    * outside the timed window, after it has taken the operation's trace. */
  def runOp(i: Int, t: OpTimer): () => OpOutcome
}

object Workload {

  /** Full-plan sink: the whole plan runs into the `noop` format with no
    * driver collect and no column pruning; the rows are captured by an
    * observed metric on the way, so the check needs no second execution. */
  def sink(df: DataFrame): Observation = {
    val obs = new Observation()
    df.observe(obs, collect_list(struct(df.columns.map(col).toIndexedSeq: _*)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    obs
  }

  def rows(obs: Observation): Seq[Row] = obs.get("rows").asInstanceOf[Seq[Row]]

  def writeParquet(spark: SparkSession, rows: Seq[Row], schema: String, path: File): DataFrame = {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      org.apache.spark.sql.types.StructType.fromDDL(schema))
    df.write.mode("overwrite").parquet(path.getPath)
    spark.read.parquet(path.getPath)
  }

  def apply(name: String, spark: SparkSession, seed: Long, dir: File): Workload = name match {
    case "names_ref" => new NameJoin(name, spark, seed, dir, unique = false)
    case "names_unique" => new NameJoin(name, spark, seed, dir, unique = true)
    case "search_probe" => new SearchProbe(spark, seed, dir)
    case "curate_corpus" => new CurateCorpus(spark, seed, dir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** 5 000 × 100 000 name join through `SimJoin.keyedPairs` (top_n=10, l2,
  * strategy "auto"). Pooled names repeat heavily (auto picks dedup);
  * unique names are all distinct and the left ones are one-letter typos of
  * right ones (auto picks the broadcast kernel). */
final class NameJoin(val name: String, spark: SparkSession, seed: Long, dir: File, unique: Boolean)
    extends Workload {
  val TopN = 10
  private val rng = new SplittableRandom(seed)
  private val (leftNames, rightNames) =
    if (unique) {
      val r = Inputs.distinctNames(NameJoin.Right, rng)
      (Inputs.typosOf(r, r.toSet, NameJoin.Left, rng), r)
    } else (Inputs.pooledNames(NameJoin.Left, rng), Inputs.pooledNames(NameJoin.Right, rng))
  private val left = Workload.writeParquet(spark,
    leftNames.indices.map(i => Row(i.toLong, leftNames(i))), "id BIGINT, name STRING", new File(dir, "left"))
  private val right = Workload.writeParquet(spark,
    rightNames.indices.map(i => Row(i.toLong, rightNames(i))), "id BIGINT, name STRING", new File(dir, "right"))

  private val leftToks = leftNames.map(SimCheck.tokens)
  private val rightSide = new SimCheck.RightSide(rightNames.indices.map(_.toLong).toArray, rightNames.map(SimCheck.tokens))
  private lazy val sample: Map[Long, IndexedSeq[SimCheck.Cand]] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    Seq.fill(NameJoin.Sample)(r.nextInt(leftNames.length)).distinct
      .map(i => i.toLong -> rightSide.ranked(leftToks(i))).toMap
  }

  def kernelStrings: Array[String] = leftNames.take(2000)
  def minWarm: Int = 3

  def runOp(i: Int, t: OpTimer): () => OpOutcome = {
    val df = t.build("join") {
      SimJoin.keyedPairs(left, "id", "name", right, "id", "name",
        SimJoinOptions(topN = TopN, normalization = "l2", strategy = "auto"), "lid", "rid", "sim")
    }
    val obs = t.run("join")(Workload.sink(df))
    () => check(Workload.rows(obs))
  }

  private def check(out: Seq[Row]): OpOutcome = {
    val rows = out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val err = SimCheck.checkJoin(rows, l => leftToks.lift(l.toInt).orNull,
      r => rightSide.toks.lift(r.toInt).orNull, sample, TopN)
    OpOutcome(rows.length, err)
  }
}

object NameJoin {
  val Left = 5000
  val Right = 100000
  val Sample = 200
}

/** Batches of 32 typo'd names through `SimSearch.topKStrings` (k=10)
  * against one fixed corpus of distinct names; every batch is new. */
final class SearchProbe(spark: SparkSession, seed: Long, dir: File) extends Workload {
  val name = "search_probe"
  val K = 10
  val Batch = 32
  private val corpusNames = Inputs.distinctNames(SearchProbe.Corpus, new SplittableRandom(seed))
  private val taken = corpusNames.toSet
  private val corpus = Workload.writeParquet(spark,
    corpusNames.indices.map(i => Row(i.toLong, corpusNames(i))), "id BIGINT, name STRING", new File(dir, "corpus"))
  private val corpusSide = new SimCheck.RightSide(corpusNames.indices.map(_.toLong).toArray, corpusNames.map(SimCheck.tokens))

  private def batch(i: Int): Array[String] =
    Inputs.typosOf(corpusNames, taken, Batch, new SplittableRandom(seed * 1000003L + i))

  def kernelStrings: Array[String] = (0 until 64).flatMap(batch).toArray
  def minWarm: Int = SearchProbe.MinWarm

  def runOp(i: Int, t: OpTimer): () => OpOutcome = {
    val qs = batch(i)
    val queries = spark.createDataFrame(qs.indices.map(j => (j.toLong, qs(j)))).toDF("qid", "q")
    val df = t.build("probe")(SimSearch.topKStrings(queries, "qid", "q", corpus, "id", "name", K))
    val obs = t.run("probe")(Workload.sink(df))
    () => check(qs, Workload.rows(obs))
  }

  private def check(qs: Array[String], out: Seq[Row]): OpOutcome = {
    val rows = out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val qToks = qs.map(SimCheck.tokens)
    val all = qs.indices.map(j => j.toLong -> corpusSide.ranked(qToks(j))).toMap
    val err = SimCheck.checkJoin(rows, q => qToks.lift(q.toInt).orNull,
      r => corpusSide.toks.lift(r.toInt).orNull, all, K)
    OpOutcome(rows.length, err)
  }
}

object SearchProbe {
  val Corpus = 100000
  val MinWarm = 5
}

/** One curation run over a seeded crawl, chained into one plan as graft's
  * calls return it: `CleanCorpus.clean`, then `CuratePipeline.curate` over
  * the survivors, `Packing.packGreedy` over the curated docs and
  * `Packing.rendezvousShard` over the bins, ending in the noop sink. */
final class CurateCorpus(spark: SparkSession, seed: Long, dir: File) extends Workload {
  import CurateCorpus._
  val name = "curate_corpus"
  private val crawl = Inputs.crawl(Docs, new SplittableRandom(seed))
  private val docs = Workload.writeParquet(spark,
    crawl.map(d => Row(d.id, d.source, d.text, d.nTokens)).toSeq,
    "id BIGINT, source STRING, text STRING, n_tokens BIGINT", new File(dir, "docs"))
  private lazy val (postExact, losers) =
    CurateCheck.expectedClean(crawl.toSeq, CleanQuality, Set("en"), 4, 5)

  def kernelStrings: Array[String] = crawl.iterator.filter(_.kind == "prose").take(300).map(_.text).toArray
  def minWarm: Int = 4

  def runOp(i: Int, t: OpTimer): () => OpOutcome = {
    val survivors = t.build("clean")(CleanCorpus.clean(docs, "id", "text", CleanQuality, Seq("en"), 0.8))
    val curated = t.build("curate")(
      CuratePipeline.curate(docs.join(survivors.select("id"), "id"), "id", "text", "source", CurateQuality, Budget))
    val withN = curated.join(docs.select("id", "n_tokens"), "id")
    val packed = t.build("pack")(Packing.packGreedy(withN, "source", "id", "n_tokens", Capacity))
    val sharded = t.build("shard")(Packing.rendezvousShard(packed, "id", Shards))
    val obs = t.run("sink")(Workload.sink(sharded))
    () => check(survivors, curated, Workload.rows(obs))
  }

  /** Checks the survivors and the curated docs (collected again from graft's
    * frames, outside the timed window) and the packed, sharded rows. */
  private def check(survivors: DataFrame, curated: DataFrame, shardRows: Seq[Row]): OpOutcome = {
    val s = survivors.select("id").collect().map(_.getLong(0)).toSet
    val (survivorErr, missed) = CurateCheck.checkSurvivors(s, postExact, losers)
    val cur = curated.collect()
      .map(r => r.getAs[Long]("id") -> (r.getAs[String]("source"), r.getAs[Long]("rank"))).toMap
    val wantCur = CurateCheck.expectedCurate(crawl.toSeq.filter(d => s(d.id)), CurateQuality, Budget)
    val packed = shardRows.map(r => (r.getAs[String]("source"), r.getAs[Long]("id"),
      r.getAs[Long]("n_tokens"), r.getAs[Long]("bin"), r.getAs[Long]("shard")))
    val nTok = crawl.iterator.map(d => d.id -> d.nTokens).toMap
    val wantBins = CurateCheck.expectedBins(wantCur.toSeq.map { case (id, (src, _)) => (src, id, nTok(id)) }, Capacity)
    val err = survivorErr
      .orElse(if (cur != wantCur) Some(s"curated ${cur.size} docs, expected ${wantCur.size} (or other ranks)") else None)
      .orElse(CurateCheck.checkBins(packed.map(p => (p._1, p._2, p._3, p._4)), Capacity))
      .orElse(if (packed.map(p => p._2 -> p._4).toMap != wantBins || packed.size != wantBins.size)
        Some("bins differ from greedy packing of the curated docs") else None)
      .orElse(packed.find(p => p._5 != CurateCheck.shard(p._2, Shards))
        .map(p => s"doc ${p._2} is in shard ${p._5}, expected ${CurateCheck.shard(p._2, Shards)}"))
    OpOutcome(packed.size, err, Map("lsh_missed_losers" -> missed.toDouble,
      "survivors" -> s.size.toDouble, "post_exact" -> postExact.size.toDouble, "near_dup_losers" -> losers.size.toDouble))
  }
}

object CurateCorpus {
  val Docs = 10000
  val CleanQuality = 0.5
  val CurateQuality = 0.6
  val Budget = 2000L
  val Capacity = 2048L
  val Shards = 8
}
