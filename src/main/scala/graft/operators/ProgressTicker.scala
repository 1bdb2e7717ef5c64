package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** O22: running progress log — the reference producer logs
  * "Progresso: {n} mensagens enviadas ({MB} processados)" every
  * INTERVALO_LOG = 100 000 sends from its producer callback
  * (reference: aplicacoes/ProdutorAvro.java:24,81-85).
  *
  * Spark's analogue of the per-send callback is the task-end event:
  * each finished task reports its input/output record and byte counts,
  * so the ticker accumulates across ALL executors for free (the
  * reference's AtomicLong only ever saw one process). Distributed
  * accounting is listener-side on the driver — zero cost inside tasks.
  *
  * The interval is configurable; the sink is injectable so specs can
  * capture ticks instead of scraping logs.
  */
final class ProgressTicker(
    every: Long = ProgressTicker.IntervaloLog,
    sink: (Long, Double) => Unit = ProgressTicker.logSink)
    extends SparkListener {

  require(every > 0, s"tick interval must be positive, got $every")

  // listener-bus dispatch is serial per listener; synchronized anyway
  // so a direct post from a test thread can't race it
  private var records = 0L
  private var bytes = 0L
  private var nextTick = every

  /** Totals so far: (records, bytes). */
  def totals: (Long, Long) = synchronized((records, bytes))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      // produce-shaped jobs count written records, consume-shaped jobs
      // count read ones; intermediate (shuffle) tasks contribute 0. A
      // task that BOTH reads and writes (a parquet rewrite, produce's
      // write-then-reread) must count once, not twice — the reference's
      // counter is per-message, so take the larger side, not the sum
      records += math.max(m.inputMetrics.recordsRead, m.outputMetrics.recordsWritten)
      bytes += math.max(m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
      while (records >= nextTick) {
        sink(nextTick, bytes / (1024.0 * 1024.0))
        nextTick += every
      }
    }
  }
}

object ProgressTicker {
  /** The reference's log cadence (ProdutorAvro.java:24). */
  val IntervaloLog: Long = 100_000L

  /** The cadence `GRAFT_PROGRESS_EVERY` sets (default [[IntervaloLog]]);
    * a value that is not an integer >= 1 fails with its name and value. */
  def everyFromEnv(env: Map[String, String] = sys.env): Long =
    env.get("GRAFT_PROGRESS_EVERY").fold(IntervaloLog) { v =>
      v.trim.toLongOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"GRAFT_PROGRESS_EVERY='$v' is not an integer >= 1"))
    }

  private def logSink(count: Long, mb: Double): Unit =
    // the reference's message, same shape and precision
    println(f"Progresso: $count mensagens processadas ($mb%.2f MB processados)")

  /** Run `body` with a ticker registered on the session's listener bus,
    * removing it afterwards. */
  def withTicker[T](spark: org.apache.spark.sql.SparkSession,
      every: Long = IntervaloLog,
      sink: (Long, Double) => Unit = logSink)(body: => T): T = {
    val t = new ProgressTicker(every, sink)
    spark.sparkContext.addSparkListener(t)
    try body
    finally {
      // let queued task-end events drain before detaching
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      spark.sparkContext.removeSparkListener(t)
    }
  }
}
