package graftbench

import graft.operators.PlanCache
import org.apache.spark.graftbench.BusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The traced run's recorder. It hangs a SparkListener on the context
  * only while a traced pass runs (the QueryExecutionListener and
  * StreamingQueryListener of every session forward to it then), keeps
  * every span in memory,
  * and sums the per-op counters the per-layer metrics are built from.
  *
  * Span times are epoch nanoseconds. Harness spans (op, build, exec,
  * leg) come from `System.nanoTime`; listener spans (plan phases,
  * micro-batches, jobs, stages) carry Spark's millisecond stamps.
  * Ops run one at a time and the listener bus is drained after each,
  * so every event delivered between `beginOp` and `endOp` is the op's.
  */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  import Tracer._

  private val baseNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = baseNs + System.nanoTime()

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var op = -1
  private var c = new Counters
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private var gc0 = 0L
  private var cache0: Map[String, (Long, Long, Double, Long)] = Map.empty

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  def span[T](kind: String, name: String)(body: => T): T = {
    val t0 = nowNs
    try body
    finally synchronized(spans += Span(op, kind, name, t0, nowNs))
  }

  def beginOp(id: Int): Unit = synchronized {
    op = id
    c = new Counters
    gc0 = gcMillis()
    cache0 = PlanCache.allStats
  }

  /** Drain the listener bus and return the op's counters. */
  def endOp(): Map[String, Any] = {
    BusBridge.drain(spark.sparkContext)
    val cache1 = PlanCache.allStats
    val d = cache1.toSeq.map { case (k, (h, m, b, _)) =>
      val (h0, m0, b0, _) = cache0.getOrElse(k, (0L, 0L, 0.0, 0L))
      (h - h0, m - m0, b - b0)
    }
    val persisted = spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum
    synchronized {
      val out = c.toMap ++ Map(
        "driver_gc_s" -> (gcMillis() - gc0) / 1e3,
        "artifact_hits" -> d.map(_._1).sum,
        "artifact_builds" -> d.map(_._2).sum,
        "artifact_build_s" -> d.map(_._3).sum,
        "persisted_bytes" -> persisted)
      op = -1
      out
    }
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      c.jobs += 1
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach { t =>
        spans += Span(op, "job", s"job ${e.jobId}", t * Ms, e.time * Ms, e.jobId)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      stageSubmit((si.stageId, si.attemptNumber())) =
        si.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      c.stages += 1
      val t0 = stageSubmit.remove((si.stageId, si.attemptNumber()))
        .orElse(si.submissionTime).getOrElse(0L)
      val t1 = si.completionTime.getOrElse(System.currentTimeMillis())
      spans += Span(op, "stage", s"stage ${si.stageId}", t0 * Ms, t1 * Ms,
        stageJob.getOrElse(si.stageId, -1))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      c.tasks += 1
      if (e.reason != org.apache.spark.Success) c.failedTasks += 1
      val ti = e.taskInfo
      stageSubmit.get((e.stageId, e.stageAttemptId)).foreach { s =>
        c.queueMs += math.max(0L, ti.launchTime - s)
      }
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.scanBytes += m.inputMetrics.bytesRead
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate =>
        Tracer.this.synchronized(c.aqeUpdates += 1)
      case _ =>
    }
  }

  /** Plan phases (analysis, optimization, planning) and scanned files
    * of one finished query execution. */
  private[graftbench] def onQueryExecution(qe: QueryExecution): Unit = {
    val files = scala.util.Try(collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum).getOrElse(0L)
    val phases = qe.tracker.phases
    synchronized {
      c.scanFiles += files
      phases.foreach { case (name, p) =>
        spans += Span(op, "plan", name, p.startTimeMs * Ms, p.endTimeMs * Ms)
      }
    }
  }

  /** One micro-batch of a streaming query. */
  private[graftbench] def onProgress(p: StreamingQueryProgress): Unit = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val start = scala.util.Try(java.time.Instant.parse(p.timestamp).toEpochMilli)
      .getOrElse(System.currentTimeMillis())
    synchronized {
      c.batches += 1
      StreamPhases.foreach { k => c.phaseMs(k) = c.phaseMs.getOrElse(k, 0L) + d.getOrElse(k, 0L) }
      p.stateOperators.foreach { so =>
        c.stateCommitMs += so.commitTimeMs
        c.stateRowsUpdated += so.numRowsUpdated
        c.stateRows = math.max(c.stateRows, so.numRowsTotal)
        c.stateMem = math.max(c.stateMem, so.memoryUsedBytes)
      }
      spans += Span(op, "batch", s"batch ${p.batchId}", start * Ms,
        (start + d.getOrElse("triggerExecution", 0L)) * Ms)
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    Tracer.active = Some(this)
  }

  def detach(): Unit = {
    BusBridge.drain(spark.sparkContext)
    Tracer.active = None
    spark.sparkContext.removeSparkListener(sparkListener)
  }
}

object Tracer {
  private val Ms = 1000000L

  /** The tracer of the pass being traced, if any. */
  @volatile private[graftbench] var active: Option[Tracer] = None

  /** Session-level listeners for every session of the run. graft runs
    * streaming and some batch entries in `newSession()` forks, which
    * have their own listener manager and streaming query manager, so
    * these are installed through `spark.sql.queryExecutionListeners` and
    * `spark.sql.streaming.streamingQueryListeners` (instantiated for
    * every new session) and forward to the active tracer; outside a
    * traced pass they return at once. */
  val SessionConf: Map[String, String] = Map(
    "spark.sql.queryExecutionListeners" -> classOf[QeListener].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[StreamListener].getName)

  /** Micro-batch phases reported by `StreamingQueryProgress.durationMs`. */
  val StreamPhases: Seq[String] =
    Seq("addBatch", "queryPlanning", "getBatch", "walCommit", "commitOffsets")

  final case class Span(op: Int, kind: String, name: String, start: Long, end: Long,
      job: Int = -1) {
    def toMap: Map[String, Any] =
      Map("op" -> op, "kind" -> kind, "name" -> name, "start_ns" -> start,
        "end_ns" -> end, "job" -> job)
  }

  final class Counters {
    var jobs, stages, tasks, failedTasks, aqeUpdates, batches = 0L
    var runMs, cpuNs, gcMs, queueMs, fetchWaitMs = 0L
    var shuffleRead, shuffleWrite, spill, scanBytes, scanFiles = 0L
    var stateCommitMs, stateRows, stateRowsUpdated, stateMem = 0L
    val phaseMs = mutable.Map.empty[String, Long]

    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "failed_tasks" -> failedTasks, "aqe_updates" -> aqeUpdates,
      "task_run_s" -> runMs / 1e3, "task_cpu_s" -> cpuNs / 1e9,
      "task_gc_s" -> gcMs / 1e3, "task_queue_s" -> queueMs / 1e3,
      "fetch_wait_s" -> fetchWaitMs / 1e3,
      "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
      "spill_bytes" -> spill, "scan_bytes" -> scanBytes, "scan_files" -> scanFiles,
      "batches" -> batches, "state_commit_s" -> stateCommitMs / 1e3,
      "state_rows" -> stateRows, "state_rows_updated" -> stateRowsUpdated,
      "state_mem_bytes" -> stateMem,
      "stream_phase_s" -> StreamPhases.map(k => k -> phaseMs.getOrElse(k, 0L) / 1e3).toMap)
  }
}

final class QeListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Tracer.active.foreach(_.onQueryExecution(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Tracer.active.foreach(_.onQueryExecution(qe))
}

final class StreamListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Tracer.active.foreach(_.onProgress(e.progress))
}
