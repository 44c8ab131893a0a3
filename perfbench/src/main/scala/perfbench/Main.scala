package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/**
 * One benchmark run of one workload in a fresh JVM:
 *
 *   set-up (JVM + SparkSession with graft's extensions, through a first trivial
 *   query) → inputs from the seed (not timed) → the cold operation → warm
 *   operations until `--seconds` have passed (and at least the workload's
 *   minimum) → the result line.
 *
 * Every operation is timed from the public call to the end of its sink and
 * checked afterwards; the session cache is measured and cleared between
 * operations, outside the timed window. An operation that throws counts as
 * failed, is left out of every timing, and fails the run like a failed check.
 * With `--trace 1` the benchmark's listeners record the per-layer figures and
 * spans; warm operations then alternate between traced and untraced, and the
 * difference of their medians is reported as the tracing overhead.
 */
object Main {

  final case class Args(workload: String = "", seed: Long = 0L, seconds: Int = 10,
      trace: Boolean = false, out: File = new File(".bench_out"), launchUs: Long = -1L)

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toInt))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--out" :: v :: rest => parse(rest, a.copy(out = new File(v)))
    case "--launch-us" :: v :: rest => parse(rest, a.copy(launchUs = v.toLong))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(out: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.default.parallelism", Cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(out, "tmp").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Starts the session and runs the first trivial query (through graft's
    * registered SQL function); returns the seconds since the JVM launched. */
  def setUp(a: Args): (SparkSession, Double) = {
    val spark = session(a.out)
    spark.sql("SELECT size(trigram_tokens('graft setup')) AS n").collect()
    (spark, (Clock.nowUs - a.launchUs) / 1e6)
  }

  private val started = Clock.nowUs
  /** Progress on stderr, with seconds since the JVM's main started. */
  def note(msg: String): Unit = System.err.println(f"[perfbench] ${(Clock.nowUs - started) / 1e6}%7.2f s  $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The nearest-rank percentile `p` of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }

  final case class OpStat(index: Int, traced: Boolean, ran: Boolean, seconds: Double, buildMs: Double, runMs: Double,
      rows: Long, cachedMb: Double, persistedRdds: Int, stageMs: Map[String, Double],
      layers: Map[String, Double], notes: Map[String, Double], error: Option[String])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    require(a.launchUs > 0, "--launch-us is required")
    val (spark, setupS) = setUp(a)
    note(f"set up in $setupS%.2f s since launch")
    val code = try run(a, spark, setupS) finally spark.stop()
    sys.exit(code)
  }

  def run(a: Args, spark: SparkSession, setupS: Double): Int = {
    val sc = spark.sparkContext
    val inputs = new File(a.out, "inputs")
    val wl = Workload(a.workload, spark, a.seed, inputs)
    note(s"inputs ready")

    val spans = mutable.ArrayBuffer.empty[Span]
    var lastId = 0
    val nextId = () => { lastId += 1; lastId }
    val runSpan = nextId()
    val runStart = Clock.nowUs
    val listener = if (a.trace) Some(new LayerListener) else None
    var listening = false
    def listen(on: Boolean): Unit = listener.foreach { l =>
      if (on != listening) {
        PerfbenchBus.drain(sc) // events of the previous operation stay out of the next batch
        if (on) { sc.addSparkListener(l); spark.listenerManager.register(l) }
        else { sc.removeSparkListener(l); spark.listenerManager.unregister(l) }
        listening = on
      }
    }

    val stats = mutable.ArrayBuffer.empty[OpStat]
    def op(i: Int): Unit = {
      val traced = a.trace && (i == 0 || i % 2 == 1)
      listen(traced)
      val opSpan = nextId()
      val t = new OpTimer(opSpan, nextId)
      val ran = Try(wl.runOp(i, t))
      val layers = listener.filter(_ => traced).map { l =>
        PerfbenchBus.drain(sc)
        l.take()
      }.filter(_ => ran.isSuccess).map { b =>
        spans += Span(opSpan, runSpan, s"op $i", t.startUs, t.endUs)
        spans ++= t.phases
        spans ++= Layers.spans(b, t.phases.toSeq, nextId)
        Layers.ofOp(b, t.startUs, t.endUs)
      }.getOrElse(Map.empty)
      // what the operation left registered in the session
      val cachedMb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / (1024.0 * 1024.0)
      val persisted = sc.getPersistentRDDs.size
      val outcome = ran match {
        case Failure(e) => OpOutcome(0L, Some(s"failed: $e"))
        case Success(check) => Try(check()).fold(e => OpOutcome(0L, Some(s"check failed: $e")), identity)
      }
      // cache hygiene: a clean slate for the next operation
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      // a full collection now lets Spark's ContextCleaner drop this operation's
      // shuffle files and broadcasts before the next one starts, not during it
      System.gc()
      // the check's and the clean-up's events belong to no operation
      listener.filter(_ => traced).foreach { l => PerfbenchBus.drain(sc); l.take() }
      stats += OpStat(i, traced, ran.isSuccess, t.seconds, t.buildUs / 1000.0, t.runUs / 1000.0, outcome.rows,
        cachedMb, persisted, t.stageMs.toMap, layers, outcome.notes, outcome.error)
      outcome.error.foreach(e => System.err.println(s"[perfbench] op $i: $e"))
    }

    op(0)
    note("cold operation done")
    val warmStart = Clock.nowUs
    var i = 1
    while (i <= wl.minWarm || Clock.nowUs - warmStart < a.seconds * 1000000L) { op(i); i += 1 }
    listen(false)
    note(s"${i - 1} warm operations done")
    spans += Span(runSpan, -1, a.workload, runStart, Clock.nowUs)

    // a failed operation counts as failed and fails the run; its time is in
    // no figure, since it may have stopped before any phase ended
    val attempted = stats.size
    val failed = stats.count(!_.ran)
    val correct = stats.forall(_.error.isEmpty)
    val timed = stats.filter(_.ran)
    val warm = timed.filter(_.index > 0)
    val warmS = warm.map(_.seconds).toSeq
    val kernels = if (a.trace) Kernels.measure(wl.kernelStrings) else Map.empty[String, Double]

    val endToEnd = mutable.LinkedHashMap(
      "setup_s" -> ((setupS, "s")),
      "cold_op_s" -> ((timed.find(_.index == 0).map(_.seconds).getOrElse(Double.NaN), "s")),
      "warm_op_s" -> ((median(warmS), "s")))
    val extra = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (warmS.length >= 100) extra("warm_op_p90_s") = (percentile(warmS, 0.9), "s")

    val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (a.trace) {
      val tw = warm.filter(_.traced)
      val uw = warm.filterNot(_.traced)
      def med(f: OpStat => Double) = median(tw.map(f).toSeq)
      LayerUnits.foreach { case (k, unit) =>
        perLayer(k) = (med(_.layers.getOrElse(k, 0.0)), unit)
      }
      perLayer("operators.build_ms") = (med(_.buildMs), "ms")
      perLayer("operators.run_ms") = (med(_.runMs), "ms")
      perLayer("operators.left_cached_mb") = (med(_.cachedMb), "MB")
      perLayer("operators.left_persisted_rdds") = (med(_.persistedRdds.toDouble), "count")
      kernels.foreach { case (k, v) => perLayer(k) = (v, "ns") }
      extra("operators.output_rows") = (med(_.rows.toDouble), "count")
      val stages = tw.flatMap(_.stageMs.keys).distinct
      if (stages.size > 1) stages.foreach(s => extra(s"operators.${s}_ms") = (med(_.stageMs.getOrElse(s, 0.0)), "ms"))
      if (tw.nonEmpty && uw.nonEmpty) {
        extra("trace.untraced_warm_op_s") = (median(uw.map(_.seconds).toSeq), "s")
        extra("trace.traced_warm_op_s") = (median(tw.map(_.seconds).toSeq), "s")
        extra("trace.overhead_s") = (extra("trace.traced_warm_op_s")._1 - extra("trace.untraced_warm_op_s")._1, "s")
      }
    }
    warm.flatMap(_.notes.keys).distinct.foreach { k =>
      extra(s"checks.$k") = (median(warm.map(_.notes.getOrElse(k, 0.0)).toSeq), "count")
    }

    val reported = if (a.trace) perLayer else endToEnd
    (endToEnd ++ perLayer ++ extra).foreach { case (k, (v, u)) => println(f"metric $k%-34s $v%.6f $u") }
    println(s"ops attempted=$attempted failed=$failed warm=${warm.size} correct=$correct")
    writeRecord(a, stats.toSeq, spans.toSeq, endToEnd ++ perLayer ++ extra, attempted, failed, correct)
    val metrics = reported.map { case (k, (v, u)) => s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${metrics.mkString(", ")}}}""")
    if (correct) 0 else 1
  }

  /** Per-layer figures taken from the listeners, with their units. */
  val LayerUnits: Seq[(String, String)] = Seq(
    "plans.analysis_ms" -> "ms", "plans.optimization_ms" -> "ms", "plans.planning_ms" -> "ms",
    "plans.physical_nodes" -> "count",
    "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count", "sched.driver_gap_ms" -> "ms",
    "exec.task_ms" -> "ms", "exec.cpu_ms" -> "ms", "exec.gc_ms" -> "ms", "exec.shuffle_write_mb" -> "MB",
    "exec.shuffle_read_mb" -> "MB", "exec.spill_mb" -> "MB", "exec.skew_ratio" -> "ratio",
    "operators.stored_mb" -> "MB")

  private def writeRecord(a: Args, stats: Seq[OpStat], spans: Seq[Span],
      metrics: collection.Map[String, (Double, String)], attempted: Int, failed: Int, correct: Boolean): Unit = {
    val dir = new File(a.out, "records")
    dir.mkdirs()
    val f = new File(dir, s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}-${System.currentTimeMillis()}.json")
    val w = new PrintWriter(f, "UTF-8")
    def obj(m: collection.Map[String, Double]) = m.map { case (k, v) => s""""$k": ${Json.num(v)}""" }.mkString("{", ", ", "}")
    try {
      w.println("{")
      w.println(s""""workload": "${a.workload}", "seed": ${a.seed}, "seconds": ${a.seconds}, "trace": ${a.trace}, "cores": $Cores,""")
      w.println(s""""attempted": $attempted, "failed": $failed, "correct": $correct,""")
      w.println(s""""metrics": ${metrics.map { case (k, (v, u)) => s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")},""")
      w.println(""""ops": [""")
      w.println(stats.map { s =>
        s"""  {"index": ${s.index}, "traced": ${s.traced}, "failed": ${!s.ran}, "seconds": ${Json.num(s.seconds)}, "build_ms": ${Json.num(s.buildMs)}, "run_ms": ${Json.num(s.runMs)}, "rows": ${s.rows}, "left_cached_mb": ${Json.num(s.cachedMb)}, "left_persisted_rdds": ${s.persistedRdds}, "stage_ms": ${obj(s.stageMs)}, "layers": ${obj(s.layers)}, "notes": ${obj(s.notes)}, "error": ${s.error.map(Json.str).getOrElse("null")}}"""
      }.mkString(",\n"))
      w.println("],")
      w.println(""""spans": [""")
      w.println(spans.map { s =>
        s"""  {"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, "start_us": ${s.startUs}, "end_us": ${s.endUs}, "attrs": ${obj(s.attrs)}}"""
      }.mkString(",\n"))
      w.println("]}")
    } finally w.close()
  }
}

object Json {
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}
