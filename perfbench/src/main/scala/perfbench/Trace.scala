package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch microseconds read from the monotonic clock, shared by the
  * benchmark's own spans and (at millisecond grain) Spark's listener events. */
object Clock {
  private val anchorNs = System.nanoTime()
  private val anchorUs = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000
}

/** One span of the trace: `workload > op > stage > build|run > job > stage`. */
final case class Span(id: Int, parent: Int, name: String, startUs: Long, endUs: Long,
    attrs: Map[String, Double] = Map.empty)

object Batch {
  final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
  final case class Stage(id: Int, var submitMs: Long, var doneMs: Long)
  final case class Task(stage: Int, durMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long)
  final case class Query(analysisMs: Long, optimizationMs: Long, planningMs: Long, nodes: Int)
}

/** Everything the listeners saw between two drains. */
final class Batch {
  import Batch._
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  val tasks = mutable.ArrayBuffer.empty[Task]
  val queries = mutable.ArrayBuffer.empty[Query]
  var storedBytes = 0L
}

/**
 * The benchmark's own listeners, registered only in the traced run: a
 * SparkListener for jobs, stages, tasks and stored blocks, and a
 * QueryExecutionListener for each query's Catalyst phase times
 * (`QueryExecution.tracker`) and physical plan size.
 */
final class LayerListener extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private var cur = new Batch

  /** Hands over everything seen so far and starts a new batch. Call after
    * [[org.apache.spark.PerfbenchBus.drain]]. */
  def take(): Batch = synchronized { val b = cur; cur = new Batch; b }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += Batch.Job(e.jobId, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    cur.jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    cur.stages(i.stageId) = Batch.Stage(i.stageId, i.submissionTime.getOrElse(-1L), -1L)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    cur.stages.get(i.stageId).foreach { s =>
      s.doneMs = i.completionTime.getOrElse(-1L)
      if (i.submissionTime.isDefined) s.submitMs = i.submissionTime.get
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      cur.tasks += Batch.Task(e.stageId, e.taskInfo.duration, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) cur.storedBytes += b.memSize + b.diskSize
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val nodes = collect(qe.executedPlan) { case p => p }.size
    synchronized {
      cur.queries += Batch.Query(ms("analysis"), ms("optimization"), ms("planning"), nodes)
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Layers {

  private val MB = 1024.0 * 1024.0

  /** Per-layer figures of one operation from the listener batch of its
    * window [startUs, endUs]. */
  def ofOp(b: Batch, startUs: Long, endUs: Long): Map[String, Double] = {
    val q = b.queries
    val covered = {
      val iv = b.jobs.map(j => (math.max(j.startMs * 1000, startUs), math.min(if (j.endMs < 0) endUs else j.endMs * 1000, endUs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var total = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) total += curE - curS
      total
    }
    val longest = b.stages.values.filter(s => s.doneMs >= 0 && s.submitMs >= 0).toSeq
      .sortBy(s => -(s.doneMs - s.submitMs)).headOption
    val skew = longest.map { s =>
      val d = b.tasks.filter(_.stage == s.id).map(_.durMs.toDouble)
      val m = Main.median(d.toSeq)
      if (m <= 0) 1.0 else d.max / m
    }.getOrElse(1.0)
    Map(
      "plans.analysis_ms" -> q.map(_.analysisMs).sum.toDouble,
      "plans.optimization_ms" -> q.map(_.optimizationMs).sum.toDouble,
      "plans.planning_ms" -> q.map(_.planningMs).sum.toDouble,
      "plans.physical_nodes" -> q.map(_.nodes).sum.toDouble,
      "sched.jobs" -> b.jobs.size.toDouble,
      "sched.stages" -> b.stages.size.toDouble,
      "sched.tasks" -> b.tasks.size.toDouble,
      "sched.driver_gap_ms" -> ((endUs - startUs) - covered) / 1000.0,
      "exec.task_ms" -> b.tasks.map(_.runMs).sum.toDouble,
      "exec.cpu_ms" -> b.tasks.map(_.cpuNs).sum / 1e6,
      "exec.gc_ms" -> b.tasks.map(_.gcMs).sum.toDouble,
      "exec.shuffle_write_mb" -> b.tasks.map(_.shuffleWrite).sum / MB,
      "exec.shuffle_read_mb" -> b.tasks.map(_.shuffleRead).sum / MB,
      "exec.spill_mb" -> b.tasks.map(_.spill).sum / MB,
      "exec.skew_ratio" -> skew,
      "operators.stored_mb" -> b.storedBytes / MB)
  }

  /** Job and stage spans of a batch; a job's parent is the phase span its
    * start falls in (the last phase when it starts after all of them). */
  def spans(b: Batch, phases: Seq[Span], nextId: () => Int): Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span]
    b.jobs.foreach { j =>
      val parent = phases.find(p => j.startMs * 1000 <= p.endUs).orElse(phases.lastOption).map(_.id).getOrElse(-1)
      val jid = nextId()
      out += Span(jid, parent, s"job ${j.id}", j.startMs * 1000, math.max(j.endMs, j.startMs) * 1000)
      j.stages.flatMap(b.stages.get).foreach { s =>
        val t = b.tasks.filter(_.stage == s.id)
        out += Span(nextId(), jid, s"stage ${s.id}", s.submitMs * 1000, math.max(s.doneMs, s.submitMs) * 1000,
          Map("tasks" -> t.size.toDouble, "task_ms" -> t.map(_.runMs).sum.toDouble,
            "shuffle_write_bytes" -> t.map(_.shuffleWrite).sum.toDouble,
            "shuffle_read_bytes" -> t.map(_.shuffleRead).sum.toDouble))
      }
    }
    out.toSeq
  }
}
