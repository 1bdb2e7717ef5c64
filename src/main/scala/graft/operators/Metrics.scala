package graft.operators

import graft.model.EngineConf
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}

/** The reference's core "query": the streaming metrics accumulator and
  * its derived report (reference: util/MetricasDesempenho.java:29-105),
  * re-expressed as a single Spark aggregation.
  *
  * The four counters (`registrarMensagem`: count++, bytes+=,
  * success/error++ — MetricasDesempenho.java:29-43) become one global
  * `agg` — Catalyst plans it as partial (map-side) + final aggregation,
  * which is exactly the reference's per-thread-accumulate-then-`merge`
  * (MetricasDesempenho.java:111-117) generalized to any number of
  * executors: no shuffle beyond the 4-counter partials.
  *
  * Derived metrics follow MetricasDesempenho.java:45-72 exactly,
  * including the zero-duration/zero-count guards returning 0.
  */
object Metrics {

  /** Counter aggregation columns (the `registrarMensagem` semantics:
    * bytes only added when > 0), over the rows where `keep` holds. */
  def counterAggs(bytes: Column, sucesso: Column, keep: Column = lit(true)): Seq[Column] = {
    def kept(c: Column) = when(keep, c)
    Seq(
      count(kept(lit(1))).as("totalMensagens"),
      coalesce(sum(kept(when(sucesso, 1L).otherwise(0L))), lit(0L)).as("mensagensSucesso"),
      coalesce(sum(kept(when(sucesso, 0L).otherwise(1L))), lit(0L)).as("mensagensComErro"),
      coalesce(sum(kept(when(bytes > 0, bytes).otherwise(0L))), lit(0L)).as("totalBytes"))
  }

  /** The report's six aggregates: the counters plus the event-time
    * span, over the rows where `keep` holds. */
  def reportAggs(bytes: Column, sucesso: Column, ts: Column,
                 keep: Column = lit(true)): Seq[Column] =
    counterAggs(bytes, sucesso, keep) ++ Seq(
      coalesce(min(when(keep, ts)), lit(0L)).as("timestampInicio"),
      coalesce(max(when(keep, ts)), lit(0L)).as("timestampFim"))

  /** Derived-metric columns over the four counters + duration.
    * Formulas and zero-guards per MetricasDesempenho.java:45-72:
    *   duracaoSegundos = duracaoMs / 1000.0
    *   msg/s  = total / dur_s            (0 when dur_s <= 0)
    *   MB/s   = (bytes/1024/1024) / dur_s (0 when dur_s <= 0)
    *   ms/msg = duracaoMs / total        (0 when total == 0)
    *   success% = sucesso * 100.0 / total (0 when total == 0)
    */
  def derivedCols(duracaoMs: Column): Seq[Column] = {
    val durS = duracaoMs.cast("double") / 1000.0
    val total = col("totalMensagens")
    val mb = col("totalBytes").cast("double") / (1024.0 * 1024.0)
    Seq(
      duracaoMs.cast("long").as("duracaoMs"),
      durS.as("duracaoSegundos"),
      when(durS > 0, total.cast("double") / durS).otherwise(0.0)
        .as("throughputMensagensPorSegundo"),
      when(durS > 0, mb / durS).otherwise(0.0).as("throughputMBPorSegundo"),
      when(total > 0, duracaoMs.cast("double") / total.cast("double")).otherwise(0.0)
        .as("tempoPorMensagemMs"),
      when(total > 0, col("mensagensSucesso").cast("double") * 100.0 / total.cast("double"))
        .otherwise(0.0).as("taxaSucessoPorcentagem"),
      mb.as("totalMB"))
  }

  /** Full report: one row, counters + derived + config echoes, stable
    * column order (the reference's HashMap order is unstable —
    * MetricasDesempenho.java:80-105; we pin it per FIXTURES.md §B).
    * `duracaoMs` is data-derived (max-min of the event timestamps) so
    * the report is reproducible, vs the reference's wall-clock.
    */
  def report(df: DataFrame, bytes: Column, sucesso: Column, ts: Column,
             conf: EngineConf = EngineConf()): DataFrame = {
    val aggs = reportAggs(bytes, sucesso, ts)
    derive(df.agg(aggs.head, aggs.tail: _*), conf)
  }

  /** The report row from a one-row frame of the [[reportAggs]] values. */
  private def derive(counters: DataFrame, conf: EngineConf): DataFrame = {
    val dur = col("timestampFim") - col("timestampInicio")
    counters
      .select((col("*") +: derivedCols(dur)): _*)
      .select(
        col("totalMensagens"), col("mensagensSucesso"), col("mensagensComErro"),
        col("totalBytes"),
        format_string("%.2f", col("totalMB")).as("totalMB"),
        col("duracaoMs"),
        format_string("%.2f", col("duracaoSegundos")).as("duracaoSegundos"),
        format_string("%.2f", col("throughputMensagensPorSegundo")).as("throughputMensagensPorSegundo"),
        format_string("%.2f", col("throughputMBPorSegundo")).as("throughputMBPorSegundo"),
        format_string("%.2f", col("tempoPorMensagemMs")).as("tempoPorMensagemMs"),
        format_string("%.2f", col("taxaSucessoPorcentagem")).as("taxaSucessoPorcentagem"),
        col("timestampInicio"), col("timestampFim"),
        lit(conf.consumerThreads).as("threadsConsumidor"),
        lit(conf.tamanhoMensagemKB).as("tamanhoMensagemKB"),
        lit(conf.benchMode).as("modoBenchmark"),
        lit(conf.compressionType).as("compressaoProdutor"))
  }

  /** One message observation for the typed aggregation path. */
  final case class Obs(bytes: Long, sucesso: Boolean)

  /** Mutable counter buffer (mirrors the reference's four AtomicLongs —
    * MetricasDesempenho.java:34-38 — made race-free by Spark's
    * per-partition reduce + merge). */
  final case class Counters(
      var total: Long = 0L, var sucesso: Long = 0L,
      var erro: Long = 0L, var bytes: Long = 0L)

  /** The §7.3 typed fallback: the same counter semantics as
    * [[counterAggs]] expressed as an `Aggregator[Obs, Counters,
    * Counters]` — the engine's typed-Dataset aggregation surface.
    * reduce = registrarMensagem, merge = MetricasDesempenho.merge. */
  object CounterAggregator
      extends org.apache.spark.sql.expressions.Aggregator[Obs, Counters, Counters] {
    override def zero: Counters = Counters()
    override def reduce(b: Counters, o: Obs): Counters = {
      b.total += 1
      if (o.sucesso) b.sucesso += 1 else b.erro += 1
      if (o.bytes > 0) b.bytes += o.bytes
      b
    }
    override def merge(a: Counters, b: Counters): Counters = {
      a.total += b.total; a.sucesso += b.sucesso; a.erro += b.erro; a.bytes += b.bytes
      a
    }
    override def finish(r: Counters): Counters = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Counters] =
      org.apache.spark.sql.Encoders.product[Counters]
    override def outputEncoder: org.apache.spark.sql.Encoder[Counters] =
      org.apache.spark.sql.Encoders.product[Counters]
  }

  /** Single-pass variant: attach the [[reportAggs]] as an
    * `Observation`, so the action that consumes the rows (a write)
    * yields the metrics without a second job; the reference likewise
    * accumulates during its send/poll loop. Returns the observed frame;
    * after one action on it, [[observedReport]] reads the report. Only
    * an action on the returned frame itself completes the observation. */
  def observed(df: DataFrame, bytes: Column, sucesso: Column, ts: Column,
               keep: Column = lit(true)): (DataFrame, Observation) = {
    val obs = Observation()
    val aggs = reportAggs(bytes, sucesso, ts, keep)
    (df.observe(obs, aggs.head, aggs.tail: _*), obs)
  }

  /** The [[report]] row of a completed [[observed]] run, as a local
    * frame (no Spark job). Every aggregate is a non-null long. */
  def observedReport(spark: SparkSession, obs: Observation, conf: EngineConf): DataFrame = {
    val m = obs.get
    val names = m.keys.toSeq // derive selects by name, so any order serves
    val schema = StructType(names.map(StructField(_, LongType, nullable = false)))
    derive(spark.createDataFrame(
      java.util.List.of(Row.fromSeq(names.map(m))), schema), conf)
  }
}
