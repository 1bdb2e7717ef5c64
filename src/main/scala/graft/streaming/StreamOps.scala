package graft.streaming

import graft.QueryDef
import graft.queries.Queries
import graft.sources.{Tables, TsBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Structured Streaming re-expression of the reference's consumer loop
  * (reference: aplicacoes/ConsumidorAvro.java:72-121 — poll loop with
  * a message-count target and a 30 s inactivity stop; SURVEY.md O10-O12).
  *
  * Batch and streaming share the same logical plan pieces: the
  * streaming SQ1 window aggregation below must equal the batch q21
  * result on the same input — that equivalence IS the oracle (the
  * driver hash-checks it against DuckDB exactly like a batch query).
  *
  * Scale notes: a file/Kafka stream parallelizes per file-split /
  * topic-partition (task-per-partition replaces the reference's
  * thread-per-partition); the windowed aggregation keeps one state
  * store entry per (window, event_type) — bounded state, watermark
  * expires it. `Trigger.AvailableNow` gives the reference's
  * "consume until target reached, then finish" semantics exactly.
  */
object StreamOps {

  /** Spark's file stream source lists a DIRECTORY; the testdata tables
    * are single parquet files. Stage a temp dir containing a symlink to
    * the file, ONE per source file and signature: every run over the
    * same file reuses it (each query lists it under its own
    * checkpoint, so sharing leaks no offsets), and a regenerated file
    * replaces and deletes its superseded dir. Staging per run left a
    * new dir and two exit hooks behind on every stream run. */
  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, String)]()

  private[streaming] def stageAsDir(path: String): String = {
    val f = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.isDirectory(f)) path
    else {
      val sig = graft.sources.FsSig.of(path)
      stagedDirs.compute(path, (_, old) =>
        if (old != null && old._1 == sig) old
        else {
          if (old != null)
            graft.operators.PlanCache.deleteRecursively(java.nio.file.Paths.get(old._2))
          val d = java.nio.file.Files.createTempDirectory("graft_stream_")
          val link = d.resolve(f.getFileName)
          // deleteOnExit runs LIFO and cannot remove a non-empty dir —
          // register child (the symlink) AFTER the parent so it is
          // deleted first and both actually go away
          d.toFile.deleteOnExit()
          java.nio.file.Files.createSymbolicLink(link, f)
          link.toFile.deleteOnExit()
          (sig, d.toString)
        })._2
    }
  }

  /** Last-run streaming state telemetry per query FAMILY (the
    * SparkEntry key): peak of Σ stateOperators.numRowsTotal across
    * the run's micro-batches, from the query's progress events.
    * Written by the stateful sq runs after awaitTermination, read by
    * the scale sweep (round-11 verdict #4: the stream-stream join
    * family was the only stateful family whose state growth curve
    * was unmeasured — this is the state-rows-peak rung datum). */
  private val statePeaks =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val stateFinals =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  def lastStatePeak(family: String): Option[Long] =
    if (statePeaks.containsKey(family)) Some(statePeaks.get(family)) else None

  /** State rows AFTER the run's last micro-batch — for an
    * AvailableNow drain that is the post-eviction count (the final
    * no-data batch advances the watermark and evicts), so
    * final ≪ peak is the DIRECT measurement of the horizon bound:
    * peak reflects the one-batch drain buffering the whole filtered
    * input, final is what a steady-state stream would actually hold. */
  def lastStateFinal(family: String): Option[Long] =
    if (stateFinals.containsKey(family)) Some(stateFinals.get(family)) else None

  private def recordStatePeak(family: String, q: StreamingQuery): Unit = {
    val progress = q.recentProgress
    val totals = progress.map(p => p.stateOperators.map(_.numRowsTotal).sum)
    statePeaks.put(family, totals.foldLeft(0L)(math.max))
    stateFinals.put(family, totals.lastOption.getOrElse(0L))
    batchMs.put(family, BatchPhases.map(ph => ph ->
      progress.map(p => Option(p.durationMs.get(ph)).fold(0L)(_.longValue)).sum))
  }

  /** The micro-batch phases of a query's `durationMs` progress split. */
  val BatchPhases: Seq[String] = Seq("addBatch", "walCommit", "commitOffsets",
    "getBatch", "latestOffset", "queryPlanning", "triggerExecution")

  /** Per [[BatchPhases]] phase, the milliseconds the family's last run
    * spent in it, summed over its micro-batches (empty before a run) —
    * the bench's `batch_ms`; one map put per run, nothing on the
    * micro-batch path. */
  private val batchMs =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Long)]]()
  def lastBatchMs(family: String): Seq[(String, Long)] =
    Option(batchMs.get(family)).getOrElse(Seq.empty)

  /** File stream over the parquet table at `path` (a file is staged,
    * [[stageAsDir]]), declaring its footer's schema ([[Tables.schema]]). */
  private[graft] def parquetStream(s: SparkSession, path: String): DataFrame =
    s.readStream.schema(Tables.schema(s, path)).parquet(stageAsDir(path))

  /** An events stream's columns: the stored `props` JSON stays out. */
  private val EventCols = Seq("event_id", "user_id", "event_type", "value", "ts").map(col)

  /** Events stream over an events file or directory, `ts` normalized. */
  private def eventsStreamAt(s: SparkSession, path: String): DataFrame =
    TsBridge.normalize(parquetStream(s, path)).select(EventCols: _*)

  /** Streaming source over the events parquet (file source — the
    * offline stand-in for the Kafka source; same DataFrame downstream). */
  def eventsStream(s: SparkSession, dir: String): DataFrame =
    eventsStreamAt(s, s"$dir/events.parquet")

  /** State-store partition count for the stateful streaming queries.
    *
    * `spark.sql.shuffle.partitions` is frozen into a streaming
    * checkpoint at FIRST START and sizes the number of state stores —
    * and the right number tracks STATE VOLUME (keys × row size), not
    * the batch scan width the session tunes for. Inheriting the batch
    * setting (32 here; 200+ on a real cluster) pays per-store
    * fixed costs — snapshot/delta files, maintenance threads, commit
    * round-trips — on stores holding a few thousand keys each:
    * measured on sq3, 32→8 stores cut the stream-stream join from
    * 8.2 s to ~3.4 s at sf0.1 with identical output, and a 3-rep
    * interleaved A/B (round 15) showed 8→4 wins again on six of the
    * seven stateful heavies (sq18 4.8→4.1 s, sq3 2.5→2.1 s, sq11
    * 2.5→2.3 s; only sq7 prefers 8 by ~0.4 s). At production state
    * volume the same sizing runs the OTHER way (more stores than
    * cores, so no store outgrows executor memory) — hence the env
    * override, the deployment-side state-layer knob, deliberately
    * decoupled from the batch shuffle width. */
  private val envStateParts: Option[Int] = {
    // a bad value fails fast: a wrong state-store count is frozen into
    // every checkpoint the deployment writes
    val name = "SPARK_GRAFT_STREAM_STATE_PARTITIONS"
    sys.env.get(name).map(v => graft.GraftSession.parsePositive(name, Some(v), 0))
  }

  val StreamStatePartitions: Int = envStateParts.getOrElse(4)

  /** Wider sizing for the UPDATE-heavy stateful families (sq8's HLL
    * registers, sq15's timer sessions, sq23's anomaly windows, sq24's
    * watermarked distinct): their micro-batch cost is dominated by
    * per-row state updates over the full input — 100 k rows across N
    * store tasks — not by per-store fixed costs, so they want update
    * PARALLELISM where the join-state families want few stores.
    * 3-rep interleaved A/B at local[32], sf0.1 (round 16): 8 beats 4
    * on exactly these four (sq8 3.37→2.83 s, sq15 2.66→2.10 s, sq23
    * 1.88→1.57 s, sq24 3.57→3.05 s) while every stream-stream join
    * prefers 4 (sq11 2.18→2.86 s at 8). The env override, when set,
    * wins everywhere — one deployment knob, per-family defaults. */
  private[streaming] val WideStatePartitions: Int = envStateParts.getOrElse(8)

  /** Base directory for the ephemeral per-run streaming checkpoints.
    *
    * Spark's auto-created "temporary" checkpoint lands under
    * `java.io.tmpdir` — a block-device-backed /tmp here — and
    * every micro-batch pays real block-layer I/O for the offset log,
    * commit log and state-store delta files (measured via the progress
    * events: walCommit+commitOffsets ~80 ms/batch, state commitTimeMs
    * 180-790 ms/batch). The checkpoints here are scratch by design
    * (unique query name per run, deleted right after the drain), so
    * they go to the RAM-backed filesystem when one exists. Production
    * deployments point `SPARK_GRAFT_STREAM_CKPT_DIR` at durable
    * storage — checkpoint durability is a deployment decision, and a
    * bench-box tmpfs for scratch state mirrors what a cluster's local
    * NVMe would be. Results are placement-independent (state content
    * is identical, only the backing medium changes). */
  private[graft] val CkptBase: Option[String] =
    sys.env.get("SPARK_GRAFT_STREAM_CKPT_DIR").filter(_.nonEmpty)
      .orElse {
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm)) Some("/dev/shm/graft_ckpt")
        else None
      }

  /** Run `body` — which must BUILD, START and DRAIN its streaming
    * query on the session it receives — against a FORKED session
    * (`newSession()`: own SQL conf and temp catalog, shared
    * SparkContext and cached data) whose `spark.sql.shuffle
    * .partitions` is set to [[StreamStatePartitions]]. The partition
    * count is captured by the streaming query at start and sizes its
    * state stores; forking confines the setting to this one query —
    * the previous shape mutated the CALLER's session conf for the
    * scope's duration (ConfScope), which the round-6 verdict flagged:
    * a concurrent batch query on the same session would silently
    * shuffle at the narrowed width. The memory-sink table registers
    * in the fork's temp catalog, so `body` must also READ it from the
    * fork ([[sinkSorted]]) and return the result.
    *
    * The fork costs no recompile: `GraftSession.builder` turns
    * `spark.sql.artifact.isolation.enabled` off, so the fork and the
    * stream's own cloned session share the caller's classloader, and
    * Spark's generated-class cache (keyed by classloader and code)
    * serves every run after the first. The fork also pins the run's
    * CHECKPOINT placement: see [[CkptBase]]. */
  private def withStreamShuffle[T](s: SparkSession,
      parts: Int = StreamStatePartitions)(body: SparkSession => T): T = {
    val fs = s.newSession()
    fs.conf.set("spark.sql.shuffle.partitions", parts.toString)
    // per-call checkpoint dir under the RAM-backed base (query names
    // are nanoTime-unique, so no state is ever reused across passes);
    // deleted in the finally — a failed run leaves nothing behind
    val ckpt = CkptBase.map { base =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(base))
      val d = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(base), "run_")
      fs.conf.set("spark.sql.streaming.checkpointLocation", d.toString)
      d
    }
    // Large-state deployments run the RocksDB state store (state on
    // local disk + block cache instead of JVM-heap hash maps — the
    // production default once state outgrows the heap; the default
    // HDFS-backed provider keeps EVERY loaded version's map on heap
    // and GC-stalls past ~10^7 rows/JVM, which a 1000× drill rung of
    // the stream-stream joins reaches on one box). Env-gated so the
    // gate-SF oracle runs stay on the default provider: results are
    // provider-independent, only the state backend changes.
    if (rocksdbStoreRequested) {
      fs.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // Changelog checkpointing (round-13 verdict #5): per-batch the
      // checkpoint uploads only the CHANGELOG (the batch's puts/
      // deletes) instead of a full RocksDB snapshot — the production
      // restart-cost posture once per-batch state deltas are small
      // against total state (snapshots still happen, asynchronously,
      // every N batches for bounded replay). Result-neutral by
      // construction (same store, different durability path) and
      // oracle-proven so (PERF.md round-14 note); restore replays
      // changelogs since the last snapshot.
      if (rocksdbChangelogRequested)
        fs.conf.set("spark.sql.streaming.stateStore.rocksdb" +
          ".changelogCheckpointing.enabled", "true")
    }
    try body(fs)
    finally ckpt.foreach(d =>
      graft.operators.PlanCache.deleteRecursively(d))
  }

  /** The drained memory sink `name`, read from the session that ran
    * it, sorted by `order` — as `orderBy`, in one job instead of a
    * range-sampling job, a shuffle and a sort. A declared-bounded
    * single-partition stage (memory sink, driver-resident): the sink's
    * rows already sit in driver memory, so one partition holds no more
    * than the sink itself, and the sort is Spark's own comparator over
    * the same sort orders. */
  private def sinkSorted(fs: SparkSession, name: String, order: Column*): DataFrame =
    fs.table(name).coalesce(1).sortWithinPartitions(order: _*)

  /** `SPARK_GRAFT_STATESTORE=rocksdb` runs every stream on the RocksDB
    * state store; unset means Spark's default; any other value fails. */
  private[graft] def parseStateStore(raw: Option[String]): Boolean =
    graft.GraftSession.parseChoice("SPARK_GRAFT_STATESTORE", raw, "rocksdb" -> true)(false)
  private val rocksdbStoreRequested = parseStateStore(sys.env.get("SPARK_GRAFT_STATESTORE"))

  /** `SPARK_GRAFT_ROCKSDB_CHANGELOG=true` (or `1`) beside
    * `SPARK_GRAFT_STATESTORE=rocksdb` (README "Streaming state
    * backends"); `false`/`0` or unset mean off; any other value fails. */
  private[graft] def parseRocksdbChangelog(raw: Option[String]): Boolean =
    graft.GraftSession.parseChoice("SPARK_GRAFT_ROCKSDB_CHANGELOG", raw,
      "true" -> true, "1" -> true, "false" -> false, "0" -> false)(false)
  private val rocksdbChangelogRequested =
    parseRocksdbChangelog(sys.env.get("SPARK_GRAFT_ROCKSDB_CHANGELOG"))

  /** SQ1 logical plan: tumbling 1-hour window × event_type, count and
    * exact-DECIMAL value sum — shared verbatim by the batch oracle
    * query (q21) and the streaming run. */
  def sq1Plan(events: DataFrame): DataFrame =
    events
      // group on the window column itself (not window.start): the time
      // window attribute carries the event-time metadata append-mode
      // watermark tracking needs
      .groupBy(window(col("ts"), "1 hour").as("janela_w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("soma_valor"))
      .select(unix_millis(col("janela_w.start")).as("janela_ms"), col("event_type"), col("n"),
        col("soma_valor"))

  /** Run SQ1 as a real streaming query (AvailableNow → memory sink),
    * block until it drains, return the materialized result. Complete
    * output mode: every window is emitted on the final trigger, so the
    * result equals the batch aggregation — watermark/append late-data
    * semantics are exercised separately in [[sq1Append]]. */
  def sq1StreamTumbling(s: SparkSession, dir: String): DataFrame = {
    val name = s"sq1_${System.nanoTime()}"
    withStreamShuffle(s) { fs =>
      val q = sq1Plan(eventsStream(fs, dir))
        .writeStream.queryName(name).format("memory")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq1_stream_tumbling", q)
      sinkSorted(fs, name, col("janela_ms"), col("event_type"))
    }
  }

  /** SQ1 with a watermark in append mode: only windows the watermark
    * has passed are emitted — the late-data-discipline variant. On a
    * bounded input the final (max-ts) window stays open and is withheld:
    * asserted in StreamOpsSpec, not oracle-compared. */
  def sq1Append(s: SparkSession, dir: String, delay: String = "1 hour"): DataFrame = {
    val name = s"sq1a_${System.nanoTime()}"
    withStreamShuffle(s) { fs =>
      val q = sq1Plan(eventsStream(fs, dir).withWatermark("ts", delay))
        .writeStream.queryName(name).format("memory")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      sinkSorted(fs, name, col("janela_ms"), col("event_type"))
    }
  }

  /** SQ4: SLIDING-window streaming aggregation — 1-hour windows every
    * 30 minutes (each event lands in exactly two overlapping windows),
    * the moving-average/trend shape of a monitoring pipeline. Same
    * complete-mode AvailableNow discipline as SQ1; the oracle is the
    * batch equivalent with the two window starts enumerated per event
    * (windows are epoch-aligned in slide increments, exactly Spark's
    * `window(ts, size, slide)` semantics). State is one entry per
    * (window, event_type) — 2× SQ1's, still bounded by time span, and
    * a watermark would expire it on an unbounded stream. */
  def sq4Plan(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("janela_w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("soma_valor"))
      .select(unix_millis(col("janela_w.start")).as("janela_ms"), col("event_type"), col("n"),
        col("soma_valor"))

  def sq4StreamSliding(s: SparkSession, dir: String): DataFrame = {
    val name = s"sq4_${System.nanoTime()}"
    withStreamShuffle(s) { fs =>
      val q = sq4Plan(eventsStream(fs, dir))
        .writeStream.queryName(name).format("memory")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq4_stream_sliding", q)
      sinkSorted(fs, name, col("janela_ms"), col("event_type"))
    }
  }

  /** SQ4's DuckDB oracle: per event, the two epoch-aligned 30-minute
    * slide starts whose 1-hour window covers it (exact micros
    * arithmetic — no window filter needed: s0 = ts − ts mod slide and
    * s0 − slide always both cover ts at size = 2·slide). */
  val sq4Sql: String =
    """WITH e AS (
      |  SELECT event_type, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
      |), w AS (
      |  SELECT event_type, value,
      |    (us - (us % 1800000000) - k * 1800000000) // 1000 AS janela_ms
      |  FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k)
      |)
      |SELECT janela_ms, event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS soma_valor
      |FROM w GROUP BY janela_ms, event_type
      |ORDER BY janela_ms, event_type""".stripMargin

  /** SQ5: STREAM-STATIC enrichment join — the live event stream joined
    * to a static dimension table (customer segments) and aggregated
    * per segment. The most common production streaming shape: the
    * static side BROADCASTS (re-read per micro-batch, no state at
    * all for the join itself — only the aggregation keeps state, one
    * row per (segment, event_type)). Arrival order cannot affect a
    * complete-mode aggregate over an inner equi-join, so the batch
    * join+aggregate is the oracle. */
  def sq5StreamEnrich(s: SparkSession, dir: String): DataFrame = {
    val name = s"sq5_${System.nanoTime()}"
    withStreamShuffle(s) { fs =>
      val cust = Tables.read(fs, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val q = eventsStream(fs, dir)
        .join(broadcast(cust), col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("soma_valor"))
        .writeStream.queryName(name).format("memory")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq5_stream_enrich", q)
      sinkSorted(fs, name, col("c_mktsegment"), col("event_type"))
    }
  }

  /** SQ5's DuckDB oracle: the identical batch join + aggregation. */
  val sq5Sql: String =
    """SELECT c_mktsegment, event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS soma_valor
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment, event_type
      |ORDER BY c_mktsegment, event_type""".stripMargin

  /** SQ8: STREAMING SKETCH certification — per-window HLL++ distinct
    * users run as a REAL streaming query (complete mode, AvailableNow,
    * the sq1 discipline). Exact distinct is the one aggregate a 24/7
    * stream cannot afford: its state is every distinct key ever seen,
    * and Spark rejects distinct aggregates in streaming outright — the
    * HLL++ register set (fixed-size, mergeable, merge-order-
    * independent) is the production answer, making this the streaming
    * face of q52's sketch-certification discipline. Factored so the
    * spec can pin streamed == batch sketch equivalence (register
    * max-merge across micro-batches is exact, so the streamed estimate
    * must equal the batch one bit-for-bit). */
  private[graft] def sq8Streamed(s: SparkSession, dir: String): DataFrame = {
    val name = s"sq8_${System.nanoTime()}"
    withStreamShuffle(s, WideStatePartitions) { fs =>
      val q = eventsStream(fs, dir)
        .groupBy(window(col("ts"), "1 hour").as("janela_w"))
        // rsd 1%: the q52 calibration — the pinned 5% bound is ~5σ, a
        // regression detector rather than a coin flip
        .agg(count(lit(1)).as("n"),
          approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
        .select(unix_millis(col("janela_w.start")).as("janela_ms"),
          col("n"), col("approx_users"))
        .writeStream.queryName(name).format("memory")
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq8_stream_sketch", q)
      fs.table(name)
    }
  }

  /** The certification wrapper: streamed sketch vs the batch exact
    * twin, compared IN-QUERY — only oracle-reproducible columns plus
    * the within-bounds boolean reach the output (the q52/q80 rule:
    * raw sketch estimates are engine-specific, so they stay out). */
  def sq8StreamSketch(s: SparkSession, dir: String): DataFrame = {
    val exact = Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour").getField("start").as("janela"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
      .select(unix_millis(col("janela")).as("janela_ms"), col("exact_users"))
    sq8Streamed(s, dir).join(exact, Seq("janela_ms"))
      .select(col("janela_ms"), col("n"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")).cast("double") /
          col("exact_users") <= 0.05).as("users_within_bounds"))
      .orderBy("janela_ms")
  }

  /** SQ8's DuckDB oracle: exact per-window counts, boolean pinned
    * true (the q52 pattern). */
  val sq8Sql: String =
    """SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))) AS janela_ms,
      |  count(*) AS n, count(DISTINCT user_id) AS exact_users,
      |  true AS users_within_bounds
      |FROM events GROUP BY 1 ORDER BY janela_ms""".stripMargin

  /** SQ9: STREAMING INCREMENTAL DEDUP — q92's exact axis in-flight:
    * the new-batch document stream (doc_id ≡ 0 mod
    * [[graft.llmops.TextOps.IncrMod]], same split as q92) probed
    * against the STATIC history fingerprint index at ingest. This is
    * the production admission gate: a crawler's output stream checked
    * against the corpus index before it lands, the streaming face of
    * q92 exactly as sq2 is the streaming face of q34.
    *
    * Scale shape: the history index is a static DataFrame BROADCAST
    * into every micro-batch (at production index sizes the same left
    * join shuffles on fp instead — one conf flip, same plan algebra;
    * or q87's Bloom literal pre-filters and only probable hits join).
    * The stream side is pure per-row map + join — NO state at all:
    * arrival order cannot affect a stateless left join, so the batch
    * probe is the oracle. The near-dup axis stays batch-side (q92):
    * banded candidate verification needs a pair aggregation that a
    * no-watermark append stream cannot host. */
  def sq9StreamIncrDedup(s: SparkSession, dir: String): DataFrame = {
    val name = s"sq9_${System.nanoTime()}"
    val incrMod = graft.llmops.TextOps.IncrMod
    val fp = graft.llmops.TextOps.normText(col("text"))
    withStreamShuffle(s) { fs =>
      val histFp = Tables.read(fs, dir, "documents")
        .filter(col("doc_id") % incrMod =!= 0)
        .select(md5(graft.llmops.TextOps.normText(col("text"))).as("fp"))
        .distinct()
        .withColumn("x_hit", lit(true))
      val q = parquetStream(fs, s"$dir/documents.parquet")
        .filter(col("doc_id") % incrMod === 0)
        .select(col("doc_id"), md5(fp).as("fp"))
        .join(broadcast(histFp), Seq("fp"), "left")
        .select(col("doc_id"),
          coalesce(col("x_hit"), lit(false)).as("exact_dup"))
        .writeStream.queryName(name).format("memory")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq9_stream_incr_dedup", q)
      sinkSorted(fs, name, col("doc_id"))
    }
  }

  /** SQ9's DuckDB oracle: the identical batch probe (q92's exact
    * columns). */
  val sq9Sql: String =
    s"""WITH fp AS (
       |  SELECT doc_id, doc_id % ${graft.llmops.TextOps.IncrMod} = 0 AS is_new,
       |    md5(${graft.llmops.TextOps.normSql}) AS fp
       |  FROM documents
       |), hist AS (SELECT DISTINCT fp FROM fp WHERE NOT is_new)
       |SELECT f.doc_id, h.fp IS NOT NULL AS exact_dup
       |FROM fp f LEFT JOIN hist h USING (fp)
       |WHERE f.is_new ORDER BY f.doc_id""".stripMargin

  /** SQ2: STREAMING exact deduplication — the training-data dedup
    * primitive run as a real streaming query: normalized-text md5
    * fingerprints deduped per source with `dropDuplicates` state,
    * append mode (each (source, fp) emitted exactly once, on first
    * sight). The emitted SET is deterministic even though arrival
    * order is not, so the batch DISTINCT is the oracle. Unbounded
    * corpora would add `withWatermark` + dropDuplicatesWithinWatermark
    * to expire state; on the bounded fixture the state is the
    * fingerprint set itself. */
  def sq2StreamDedup(s: SparkSession, dir: String): DataFrame = {
    val name = s"sq2_${System.nanoTime()}"
    val fp = md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
    withStreamShuffle(s) { fs =>
      val q = parquetStream(fs, s"$dir/documents.parquet")
        .select(col("source"), fp.as("fp"))
        .dropDuplicates("source", "fp")
        .writeStream.queryName(name).format("memory")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq2_stream_dedup", q)
      sinkSorted(fs, name, col("source"), col("fp"))
    }
  }

  /** SQ2's DuckDB oracle: the batch distinct over the same input. */
  val sq2Sql: String =
    """SELECT DISTINCT source,
      |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |FROM documents ORDER BY source, fp""".stripMargin

  /** SQ10: TTL-BOUNDED streaming dedup — the UNBOUNDED-stream shape
    * sq2's scaladoc promises: `withWatermark` +
    * `dropDuplicatesWithinWatermark`, so the dedup state holds one
    * watermark-horizon of keys instead of every key ever seen (the
    * property that lets a 24/7 dedup gate run forever; sq2's plain
    * dropDuplicates state grows without bound). Keys = (user_id,
    * event_type) over the event stream — "first sighting per user
    * and action within the horizon". Only the KEY columns are
    * emitted: within one horizon the emitted set equals the batch
    * DISTINCT (deterministic under any arrival order), which is the
    * oracle; non-key columns would depend on arrival order. */
  def sq10StreamDedupTtl(s: SparkSession, dir: String): DataFrame = {
    val name = s"sq10_${System.nanoTime()}"
    withStreamShuffle(s) { fs =>
      val q = eventsStream(fs, dir)
        .withWatermark("ts", "2 hours")
        .select(col("user_id"), col("event_type"), col("ts"))
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
        .writeStream.queryName(name).format("memory")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq10_stream_dedup_ttl", q)
      sinkSorted(fs, name, col("user_id"), col("event_type"))
    }
  }

  /** SQ10's DuckDB oracle: the fixture spans one horizon, so the
    * emitted key set is the batch distinct. */
  val sq10Sql: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** SQ3: STREAM-STREAM interval join — click→purchase attribution as
    * two live streams (the q18 as-of family's streaming sibling): every
    * purchase within one hour after a click by the same user, inner
    * join in append mode. Both sides carry watermarks and the join
    * condition carries the event-time range, so Spark bounds the join
    * state: click state expires once the purchase-side watermark passes
    * click_ts + 1 h, purchase state symmetrically — at scale the state
    * store holds one watermark-window of events per side, not the
    * stream. An inner join's emitted SET is arrival-order independent
    * (each qualifying pair is emitted exactly once), so the batch
    * interval join is the oracle — streaming/batch equivalence is the
    * check, like sq1/sq2. */
  def sq3StreamJoin(s: SparkSession, dir: String): DataFrame = {
    val name = s"sq3_${System.nanoTime()}"
    withStreamShuffle(s) { fs =>
      // one shared source for both sides (the sq18 rationale: fewer
      // offset logs, one latestOffset round trip, half the replanned
      // plan per batch); self-join semantics are row-identical
      val ev = eventsStream(fs, dir)
      def side(evType: String, prefix: String): DataFrame =
        ev.filter(col("event_type") === evType)
          .select(col("event_id").as(s"${prefix}_id"), col("user_id").as(s"${prefix}_user"),
            col("ts").as(s"${prefix}_ts"))
          .withWatermark(s"${prefix}_ts", "2 hours")
      val clicks = side("click", "click")
      val purchases = side("purchase", "purchase")
      val q = clicks.join(purchases,
        expr("""click_user = purchase_user
               |AND purchase_ts >= click_ts
               |AND purchase_ts <= click_ts + INTERVAL 1 HOUR""".stripMargin))
        .select(col("click_user").as("user_id"), col("click_id"), col("purchase_id"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("delta_us"))
        .writeStream.queryName(name).format("memory")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq3_stream_join", q)
      sinkSorted(fs, name, col("click_id"), col("purchase_id"))
    }
  }

  /** SQ3's DuckDB oracle: the identical interval join in batch. */
  val sq3Sql: String =
    """SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id,
      |  epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP)) AS delta_us
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND a.event_type = 'click' AND b.event_type = 'purchase'
      | AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP)
      | AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 1 HOUR
      |ORDER BY click_id, purchase_id""".stripMargin

  /** SQ11: STREAM-STREAM LEFT OUTER interval join — sq3 with the
    * unconverted clicks kept: every click emits either its attributed
    * purchases or, once the join window can no longer be satisfied,
    * exactly one null-extended row. The outer side is the part inner
    * joins cannot express on streams: a click's non-conversion is only
    * KNOWABLE when the global watermark (min of both sides' watermarks)
    * passes click_ts + 1 h — before that a matching purchase could
    * still arrive. Spark emits the null-extended row from the state
    * eviction at that watermark, which the AvailableNow final no-data
    * batch runs for the drained input; clicks whose window is still
    * open at the final watermark remain in state and are NOT emitted —
    * exactly the semantics the oracle encodes with its
    * `cts + 1 h < final_wm` bound. State stays
    * one-watermark-horizon-bounded per side, the same as sq3. */
  def sq11StreamLeftJoin(s: SparkSession, dir: String): DataFrame = {
    val name = s"sq11_${System.nanoTime()}"
    withStreamShuffle(s) { fs =>
      // one shared source for both sides (the sq18 rationale)
      val ev = eventsStream(fs, dir)
      def side(evType: String, prefix: String): DataFrame =
        ev.filter(col("event_type") === evType)
          .select(col("event_id").as(s"${prefix}_id"), col("user_id").as(s"${prefix}_user"),
            col("ts").as(s"${prefix}_ts"))
          .withWatermark(s"${prefix}_ts", "2 hours")
      val clicks = side("click", "click")
      val purchases = side("purchase", "purchase")
      val q = clicks.join(purchases,
        expr("""click_user = purchase_user
               |AND purchase_ts >= click_ts
               |AND purchase_ts <= click_ts + INTERVAL 1 HOUR""".stripMargin),
        "leftOuter")
        .select(col("click_user").as("user_id"), col("click_id"), col("purchase_id"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("delta_us"))
        .writeStream.queryName(name).format("memory")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq11_stream_left_join", q)
      sinkSorted(fs, name, col("click_id"), col("purchase_id").asc_nulls_first)
    }
  }

  /** SQ11's DuckDB oracle: the batch interval join UNION ALL the
    * unconverted clicks whose join window closed under the final
    * watermark — min(max click ts, max purchase ts) − 2 h, the exact
    * global watermark the drained streaming query ends with. NULLS
    * FIRST pins DuckDB's sort to Spark's asc_nulls_first. */
  val sq11Sql: String =
    """WITH c AS (
      |  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS cts
      |  FROM events WHERE event_type = 'click'
      |), p AS (
      |  SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS pts
      |  FROM events WHERE event_type = 'purchase'
      |), wm AS (
      |  SELECT least((SELECT max(cts) FROM c), (SELECT max(pts) FROM p))
      |         - INTERVAL 2 HOUR AS w
      |), matched AS (
      |  SELECT c.user_id, c.click_id, p.purchase_id,
      |    epoch_us(p.pts) - epoch_us(c.cts) AS delta_us
      |  FROM c JOIN p ON c.user_id = p.user_id
      |   AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 1 HOUR
      |), unmatched AS (
      |  SELECT c.user_id, c.click_id, CAST(NULL AS BIGINT) AS purchase_id,
      |    CAST(NULL AS BIGINT) AS delta_us
      |  FROM c CROSS JOIN wm
      |  WHERE c.cts + INTERVAL 1 HOUR < wm.w
      |    AND NOT EXISTS (SELECT 1 FROM p
      |      WHERE p.user_id = c.user_id
      |        AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 1 HOUR)
      |)
      |SELECT user_id, click_id, purchase_id, delta_us FROM matched
      |UNION ALL
      |SELECT user_id, click_id, purchase_id, delta_us FROM unmatched
      |ORDER BY click_id, purchase_id NULLS FIRST""".stripMargin

  /** SQ26: FULL-OUTER STREAM-STREAM INTERVAL JOIN — completes the
    * stream-join family (sq3 inner, sq11 left, sq18 chained): BOTH
    * sides' unmatched rows are held in state and emitted as
    * null-extended rows once the watermark proves no partner can
    * still arrive. The interval condition bounds both state stores —
    * a click is evictable once wm passes cts + 1 h (its purchase
    * window closed), a purchase once wm passes pts (the latest click
    * that could precede it has expired) — so state is
    * watermark-bounded on both sides, the property that makes the
    * full-outer form runnable at all on unbounded inputs.
    *
    * The oracle is the batch interval join UNION ALL both
    * unmatched-residual legs under the drained query's final global
    * watermark (min of the two sides' max event times − 2 h) — the
    * sq11 discipline extended symmetrically. */
  def sq26StreamFullOuter(s: SparkSession, dir: String): DataFrame = {
    val name = s"sq26_${System.nanoTime()}"
    withStreamShuffle(s) { fs =>
      // one shared source for both sides (the sq18 rationale)
      val ev = eventsStream(fs, dir)
      def side(evType: String, prefix: String): DataFrame =
        ev.filter(col("event_type") === evType)
          .select(col("event_id").as(s"${prefix}_id"), col("user_id").as(s"${prefix}_user"),
            col("ts").as(s"${prefix}_ts"))
          .withWatermark(s"${prefix}_ts", "2 hours")
      val clicks = side("click", "click")
      val purchases = side("purchase", "purchase")
      val q = clicks.join(purchases,
        expr("""click_user = purchase_user
               |AND purchase_ts >= click_ts
               |AND purchase_ts <= click_ts + INTERVAL 1 HOUR""".stripMargin),
        "fullOuter")
        .select(coalesce(col("click_user"), col("purchase_user")).as("user_id"),
          col("click_id"), col("purchase_id"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("delta_us"))
        .writeStream.queryName(name).format("memory")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq26_stream_full_outer", q)
      sinkSorted(fs, name, col("click_id").asc_nulls_first,
        col("purchase_id").asc_nulls_first)
    }
  }

  val sq26Sql: String =
    """WITH c AS (
      |  SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS cts
      |  FROM events WHERE event_type = 'click'
      |), p AS (
      |  SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS pts
      |  FROM events WHERE event_type = 'purchase'
      |), wm AS (
      |  SELECT least((SELECT max(cts) FROM c), (SELECT max(pts) FROM p))
      |         - INTERVAL 2 HOUR AS w
      |), matched AS (
      |  SELECT c.user_id, c.click_id, p.purchase_id,
      |    epoch_us(p.pts) - epoch_us(c.cts) AS delta_us
      |  FROM c JOIN p ON c.user_id = p.user_id
      |   AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 1 HOUR
      |), un_c AS (
      |  SELECT c.user_id, c.click_id, CAST(NULL AS BIGINT) AS purchase_id,
      |    CAST(NULL AS BIGINT) AS delta_us
      |  FROM c CROSS JOIN wm
      |  WHERE c.cts + INTERVAL 1 HOUR < wm.w
      |    AND NOT EXISTS (SELECT 1 FROM p
      |      WHERE p.user_id = c.user_id
      |        AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 1 HOUR)
      |), un_p AS (
      |  SELECT p.user_id, CAST(NULL AS BIGINT) AS click_id, p.purchase_id,
      |    CAST(NULL AS BIGINT) AS delta_us
      |  FROM p CROSS JOIN wm
      |  WHERE p.pts < wm.w
      |    AND NOT EXISTS (SELECT 1 FROM c
      |      WHERE c.user_id = p.user_id
      |        AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 1 HOUR)
      |)
      |SELECT user_id, click_id, purchase_id, delta_us FROM matched
      |UNION ALL SELECT user_id, click_id, purchase_id, delta_us FROM un_c
      |UNION ALL SELECT user_id, click_id, purchase_id, delta_us FROM un_p
      |ORDER BY click_id NULLS FIRST, purchase_id NULLS FIRST""".stripMargin

  /** SQ12: CHAINED WINDOWED AGGREGATIONS in one streaming query —
    * 15-minute counts re-aggregated to hourly inside the SAME query
    * (two stateful operators back to back, the multi-stateful-operator
    * capability Spark gained in 3.4; before that the rollup needed a
    * second query over an intermediate sink). `window_time` gives the
    * first aggregation's windows an event-time column the second can
    * window over; append mode + watermark finalize a 15-min window
    * when the watermark passes its end, and an hourly window when all
    * its sub-windows have finalized — i.e. when the watermark passes
    * the HOUR's end. On the drained bounded input the emitted set is
    * exactly the batch hourly rollup restricted to hours closed under
    * the final watermark (max ts − 2 h), which is the oracle bound;
    * the open tail hours stay in state, withheld. n_subwindows
    * counts the distinct 15-min windows feeding each hour (a
    * completeness signal at a glance). State is two
    * watermark-horizon-bounded window maps — scale-safe for 24/7. */
  def sq12StreamRollup(s: SparkSession, dir: String): DataFrame = {
    val name = s"sq12_${System.nanoTime()}"
    withStreamShuffle(s) { fs =>
      val q15 = eventsStream(fs, dir)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "15 minutes").as("w15"), col("event_type"))
        .agg(count(lit(1)).as("n15"))
      val q = q15
        .groupBy(window(window_time(col("w15")), "1 hour").as("w1h"), col("event_type"))
        .agg(sum("n15").as("n_events"), count(lit(1)).as("n_subwindows"))
        .select(unix_millis(col("w1h.start")).as("janela_ms"), col("event_type"),
          col("n_events"), col("n_subwindows"))
        .writeStream.queryName(name).format("memory")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq12_stream_rollup", q)
      sinkSorted(fs, name, col("janela_ms"), col("event_type"))
    }
  }

  /** SQ12's DuckDB oracle: the batch hourly rollup over hours fully
    * closed under the final watermark (max ts − 2 h). */
  val sq12Sql: String =
    """WITH wm AS (
      |  SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 2 HOUR AS w FROM events
      |), e AS (
      |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, event_type,
      |    time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP)) AS w15
      |  FROM events
      |)
      |SELECT epoch_ms(h) AS janela_ms, event_type,
      |  count(*) AS n_events,
      |  CAST(count(DISTINCT w15) AS BIGINT) AS n_subwindows
      |FROM e CROSS JOIN wm
      |WHERE h + INTERVAL 1 HOUR <= wm.w
      |GROUP BY h, event_type ORDER BY janela_ms, event_type""".stripMargin

  /** The reference's running metrics counters as a streaming
    * aggregation over the messages stream (O18 parity): one global
    * state row, updated per micro-batch. */
  def streamingMetrics(messages: DataFrame): DataFrame =
    messages.agg(
      count(lit(1)).as("total_mensagens"),
      sum(when(col("sucesso"), 1L).otherwise(0L)).as("mensagens_sucesso"),
      sum(when(col("sucesso"), 0L).otherwise(1L)).as("mensagens_com_erro"),
      sum(when(col("bytes_avro") > 0, col("bytes_avro")).otherwise(0L)).as("total_bytes"))

  /** Idle-stop listener — the reference's 30 s inactivity timeout
    * (ConsumidorAvro.java:76-85) on streaming-listener events. Spark
    * reports "no data for spark.sql.streaming.noDataProgressEventInterval"
    * as a QueryIdleEvent (empty batches do NOT produce progress
    * events), so inactivity = idle events after at least one batch. */
  final class IdleStop(query: () => StreamingQuery, maxIdleEvents: Int)
      extends StreamingQueryListener {
    @volatile private var idle = 0
    private def mine(id: java.util.UUID): Boolean =
      Option(query()).exists(_.id == id) // other session queries must not trip us
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (mine(e.progress.id) && e.progress.numInputRows > 0) idle = 0
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit =
      if (mine(e.id)) {
        idle += 1
        if (idle >= maxIdleEvents) Option(query()).foreach(_.stop())
      }
  }

  // ------------------------------------------------- stateful sessions

  /** Per-user session state for [[sessionizeStateful]]. */
  final case class SessionState(sid: Long, startUs: Long, lastUs: Long, n: Long)

  /** Emitted closed (or final) session. */
  final case class Session(user_id: Long, sid: Long, n_eventos: Long,
      inicio_us: Long, duracao_us: Long)

  /** Internal typed event row (public: encoders generate accessor code). */
  final case class Ev(user_id: Long, event_id: Long, us: Long)

  /** [[Ev]] plus the raw watermarked timestamp column: the event-time
    * watermark tag lives on the `ts` ATTRIBUTE, so the timeout variant
    * must carry it through the projection into the typed row —
    * Spark's streaming checker rejects EventTimeTimeout when no input
    * column of the flatMap is watermarked. */
  final case class EvW(user_id: Long, event_id: Long, us: Long,
      ts: java.sql.Timestamp)

  /** Custom stateful sessionization via flatMapGroupsWithState — the
    * KeyValueGroupedDataset custom-state API the engine exposes for
    * session semantics the built-in windows can't express. Gap rule
    * identical to the batch q22 (lag > 30 min starts a session).
    *
    * Streaming caveats made explicit: events inside one micro-batch
    * arrive unordered, so the group sorts its batch in memory (bounded
    * by per-user batch volume); sessions close when a later event
    * proves the gap, and the final open session is emitted on timeout
    * (here: end of AvailableNow input, demonstrated in the spec by
    * comparing CLOSED+final sessions to the batch result). */
  def sessionizeStateful(events: DataFrame, gapUs: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout

    val typed = events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .as[Ev]

    def fn(userId: Long, evs: Iterator[Ev],
        state: org.apache.spark.sql.streaming.GroupState[SessionState]): Iterator[Session] = {
      val sorted = evs.toArray.sortBy(e => (e.us, e.event_id))
      var out = List.empty[Session]
      var st = state.getOption.orNull
      sorted.foreach { e =>
        st = st match {
          case null => SessionState(1L, e.us, e.us, 1L)
          case s if e.us - s.lastUs > gapUs =>
            out ::= Session(userId, s.sid, s.n, s.startUs, s.lastUs - s.startUs)
            SessionState(s.sid + 1, e.us, e.us, 1L)
          case s => s.copy(lastUs = e.us, n = s.n + 1)
        }
      }
      if (st != null) state.update(st)
      out.reverseIterator
    }

    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState(org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(fn)
      .toDF()
  }

  /** Batch-mode runner for the stateful sessionizer: on a bounded
    * input all state arrives in one pass, so closed sessions plus each
    * user's final open session equal the batch q22 result exactly
    * (spec-asserted). Returns closed+final sessions. */
  def sessionizeBatch(s: SparkSession, dir: String, gapUs: Long): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val closed = sessionizeStateful(ev, gapUs).as[Session]
    closed.unionAll(finalOpenSessions(ev, gapUs)).toDF()
      .orderBy("user_id", "sid")
  }

  /** Each user's final OPEN session, recovered from the same
    * deterministic walk the stateful fn runs. flatMapGroupsWithState
    * only emits sessions a LATER event closes; without a timeout tick
    * the last session per user stays in state, so both the batch
    * runner and the streaming sq6 recover it with this pass. */
  private def finalOpenSessions(ev: DataFrame, gapUs: Long)
      : org.apache.spark.sql.Dataset[Session] = {
    val spark = ev.sparkSession
    import spark.implicits._
    ev.select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .as[Ev]
      .groupByKey(_.user_id)
      .mapGroups { (uid, evs) =>
        val sorted = evs.toArray.sortBy(e => (e.us, e.event_id))
        var st: SessionState = null
        sorted.foreach { e =>
          st =
            if (st == null) SessionState(1L, e.us, e.us, 1L)
            else if (e.us - st.lastUs > gapUs) SessionState(st.sid + 1, e.us, e.us, 1L)
            else st.copy(lastUs = e.us, n = st.n + 1)
        }
        Session(uid, st.sid, st.n, st.startUs, st.lastUs - st.startUs)
      }
  }

  /** SQ6: the stateful sessionizer run as a REAL streaming query —
    * flatMapGroupsWithState (append, NoTimeout) over the event file
    * stream emits every session CLOSED by a later event; the final
    * open session per user cannot emit without a timeout tick, so it
    * is recovered batch-side by [[finalOpenSessions]] (the identical
    * walk) and unioned. Oracle: the batch lag/cumulative-sum
    * sessionization SQL (q22) — streaming/batch equivalence is the
    * check, the same discipline as sq1.
    *
    * Scale shape: state is ONE SessionState row per live user (four
    * longs), shuffled once on user_id; the unbounded-stream production
    * shape — `GroupStateTimeout.EventTimeTimeout` + watermark expiring
    * idle users and emitting their final session with no recovery
    * pass — is [[sessionizeStatefulTimeout]], spec-asserted equal on
    * the fixture. */
  def sq6Sessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val name = s"sq6_${System.nanoTime()}"
    val gapUs = graft.queries.Queries.SessionGapUs
    val streamed = withStreamShuffle(s) { fs =>
      val q = sessionizeStateful(eventsStream(fs, dir), gapUs)
        .writeStream.queryName(name).format("memory")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq6_sessionize", q)
      fs.table(name)
    }
    streamed.as[Session]
      .unionAll(finalOpenSessions(Tables.events(s, dir), gapUs)).toDF()
      .orderBy("user_id", "sid")
  }

  /** The PRODUCTION twin of [[sessionizeStateful]]: watermark +
    * `GroupStateTimeout.EventTimeTimeout` — the shape a 24/7 unbounded
    * pipeline runs. Each update arms a per-user timeout at
    * `lastUs + gap`; when the watermark (fed by other users' traffic)
    * passes it, the state expires and the FINAL session emits from the
    * timeout branch — no batch-side recovery pass, state stays one row
    * per LIVE user (idle users are evicted, which the NoTimeout
    * variant never does — the property that makes this the unbounded
    * shape).
    *
    * Equivalence to q22 is exact for every user whose timeout the
    * final watermark passes; users still "live" at end-of-input
    * (lastUs + gap beyond the watermark) remain in state, exactly as
    * they would mid-stream — both halves spec-asserted
    * (StreamOpsSpec): with a stream-end flush tick the output equals
    * q22 row-for-row, and without one the only withheld rows are
    * still-open final sessions. */
  def sessionizeStatefulTimeout(events: DataFrame, gapUs: Long,
      delay: String = "0 seconds"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout

    val typed = events
      .withWatermark("ts", delay)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("ts"))
      .as[EvW]

    def fn(userId: Long, evs: Iterator[EvW],
        state: org.apache.spark.sql.streaming.GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator.single(Session(userId, s.sid, s.n, s.startUs, s.lastUs - s.startUs))
      } else {
        val sorted = evs.toArray.sortBy(e => (e.us, e.event_id))
        var out = List.empty[Session]
        var st = state.getOption.orNull
        sorted.foreach { e =>
          st = st match {
            case null => SessionState(1L, e.us, e.us, 1L)
            case s if e.us - s.lastUs > gapUs =>
              out ::= Session(userId, s.sid, s.n, s.startUs, s.lastUs - s.startUs)
              SessionState(s.sid + 1, e.us, e.us, 1L)
            case s => s.copy(lastUs = e.us, n = s.n + 1)
          }
        }
        if (st != null) {
          state.update(st)
          // event-time timeouts are millisecond-based; arm at the gap
          // boundary (floor to ms keeps the boundary conservative: a
          // session can only expire once the watermark is PAST it)
          state.setTimeoutTimestamp(st.lastUs / 1000 + gapUs / 1000)
        }
        out.reverseIterator
      }
    }

    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState(org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(fn)
      .toDF()
  }

  /** Run the EventTimeTimeout sessionizer as a real streaming query
    * over `srcDir` (a directory of events parquet files — callers may
    * stage extra "flush tick" files alongside the fixture). Returns
    * every emitted session: closed-by-event AND timed-out finals; no
    * recovery union. */
  def sq6SessionizeTimeout(s: SparkSession, srcDir: String): DataFrame = {
    val name = s"sq6t_${System.nanoTime()}"
    val gapUs = graft.queries.Queries.SessionGapUs
    withStreamShuffle(s) { fs =>
      val src = eventsStreamAt(fs, srcDir)
      val q = sessionizeStatefulTimeout(src, gapUs)
        .writeStream.queryName(name).format("memory")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      // recorded under sq7's key: sq7 is this impl's SparkEntry
      // canonical caller (sq6_sessionize is the FMGWS variant above)
      recordStatePeak("sq7_sessionize_timeout", q)
      sinkSorted(fs, name, col("user_id"), col("sid"))
    }
  }

  /** SQ7: the EventTimeTimeout sessionizer driven to completion by a
    * staged flush tick — a sentinel event one gap + one minute past the
    * fixture's max event time (standing in for the later traffic an
    * unbounded stream always has), filtered back out of the result.
    * With the watermark past every real user's gap boundary, every
    * final session emits from the TIMEOUT branch — so the oracle is
    * the batch q22 SQL with no recovery union anywhere: the
    * production shape, driver-hash-checked. */
  /** Stage the events fixture into a temp dir PLUS a flush-tick
    * sentinel one gap + one minute past max(ts) (same ts vintage as
    * the fixture — the stream declares one file's footer schema).
    * Empty day: one schema-bearing part file, no tick. Shared by the
    * two timeout sessionizers (sq7 GroupStateTimeout, sq15 V2
    * timers). */
  private def stageWithFlushTick(s: SparkSession, dir: String, gapUs: Long): String = {
    val work = java.nio.file.Files.createTempDirectory("graft_flush_")
    work.toFile.deleteOnExit()
    val raw = Tables.read(s, dir, "events")
    val maxRow = TsBridge.normalize(raw).agg(max(unix_micros(col("ts")))).head()
    val staged = if (maxRow.isNullAt(0)) raw.repartition(1) else raw
    staged.write.mode("append").parquet(work.toString)
    if (!maxRow.isNullAt(0)) {
      val flushUs = maxRow.getLong(0) + gapUs + 60L * 1000000
      val tickTs = raw.schema("ts").dataType match {
        case LongType => lit(flushUs * 1000L)
        case TimestampNTZType =>
          expr(s"timestamp_micros(${flushUs}L)").cast(TimestampNTZType)
        case _ => expr(s"timestamp_micros(${flushUs}L)")
      }
      raw.limit(1).select(
        lit(-1L).as("event_id"), lit(-1L).as("user_id"),
        lit("view").as("event_type"), lit(0d).as("value"),
        tickTs.as("ts"))
        .write.mode("append").parquet(work.toString)
    }
    work.toString
  }

  def sq7SessionizeTimeout(s: SparkSession, dir: String): DataFrame = {
    val gapUs = graft.queries.Queries.SessionGapUs
    val work = stageWithFlushTick(s, dir, gapUs)
    sq6SessionizeTimeout(s, work)
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "sid")
  }

  /** Run SQ1 over a directory INCREMENTALLY with a checkpoint: an
    * AvailableNow pass processes whatever files are new since the last
    * run, restores the aggregation state store, and (complete mode via
    * foreachBatch) rewrites the full result to `outDir`. Returns the
    * total input rows this run actually read — the recovery drill
    * asserts it equals only the NEW data after a restart. */
  def sq1Incremental(s: SparkSession, srcDir: String, checkpoint: String,
      outDir: String): Long = {
    val src = eventsStreamAt(s, srcDir)
    val q = sq1Plan(src)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.coalesce(1).write.mode("overwrite").parquet(outDir)
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.recentProgress.map(_.numInputRows).sum
  }

  /** Run the streaming metrics over a messages parquet dir with
    * idle-stop (ProcessingTime trigger — the open-ended consumer
    * shape), returning the final counters. */
  def consumeWithIdleStop(s: SparkSession, path: String, schema: StructType,
      maxIdleEvents: Int = 1): DataFrame = {
    val name = s"metrics_${System.nanoTime()}"
    // forked session (the withStreamShuffle discipline): the prompt
    // idle-reporting cadence — 2 s instead of the 10 s default, so the
    // stop reacts like the reference's inactivity timeout — applies to
    // this query alone, never the caller's session
    val fs = s.newSession()
    fs.conf.set("spark.sql.streaming.noDataProgressEventInterval", "2000")
    val src = fs.readStream.schema(schema).parquet(stageAsDir(path))
    var q: StreamingQuery = null
    val listener = new IdleStop(() => q, maxIdleEvents)
    fs.streams.addListener(listener)
    try {
      q = streamingMetrics(src)
        .writeStream.queryName(name).format("memory")
        .outputMode("complete").trigger(Trigger.ProcessingTime("500 milliseconds")).start()
      q.awaitTermination()
    } finally fs.streams.removeListener(listener)
    fs.table(name)
  }

  // ---------------------------------------- sq13 transformWithState profile

  /** Per-user profile state for [[sq13StreamProfile]]. */
  final case class ProfState(firstUs: Long, lastUs: Long, n: Long, sess: Long)

  /** Emitted per-user profile row. */
  final case class Profile(user_id: Long, n_events: Long, n_sessions: Long,
      first_ms: Long, last_ms: Long)

  /** SQ13's stateful processor — the arbitrary-stateful-V2 API
    * (`transformWithState`, Spark 4): a typed ValueState profile per
    * user (first/last seen, event count, session count under the q22
    * 30-min gap rule), updated per micro-batch. Batch rows sort in
    * memory (intra-batch arrival is unordered — the sq6 discipline);
    * one Profile emits per touched key per batch, and n_events is
    * monotone, so the max-n row per user is the final profile. */
  final class ProfileProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, Profile] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[ProfState] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[ProfState]("profile",
        org.apache.spark.sql.Encoders.product[ProfState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[Profile] = {
      val sorted = rows.toArray.sortBy(e => (e.us, e.event_id))
      if (sorted.isEmpty) return Iterator.empty
      var st = if (state.exists()) state.get() else null
      sorted.foreach { e =>
        st =
          if (st == null) ProfState(e.us, e.us, 1L, 1L)
          else if (e.us - st.lastUs > gapUs)
            ProfState(st.firstUs, e.us, st.n + 1, st.sess + 1)
          else ProfState(st.firstUs, e.us, st.n + 1, st.sess)
      }
      state.update(st)
      Iterator.single(
        Profile(key, st.n, st.sess, st.firstUs / 1000, st.lastUs / 1000))
    }
  }

  /** SQ13: PER-USER PROFILE via `transformWithState` — the Spark-4
    * arbitrary-stateful engine (typed ValueState/ListState/MapState,
    * TTL, timers, RocksDB-backed) that supersedes
    * [[sessionizeStateful]]'s flatMapGroupsWithState shape: a live
    * first/last-seen + event-count + session-count profile per user,
    * the feature-store row a training pipeline maintains per entity.
    *
    * Scale shape: state is ONE fixed-width row per user in the
    * RocksDB store (transformWithState requires the RocksDB provider
    * — set on the forked session only), shuffled once on user_id;
    * profiles re-emit per touched key per batch, so downstream
    * consumers read the latest row per key (here: max-n, since
    * n_events is monotone). The oracle is the batch profile with the
    * identical gap rule — streaming/batch equivalence, like sq6. */
  def sq13StreamProfile(s: SparkSession, dir: String): DataFrame = {
    val name = s"sq13_${System.nanoTime()}"
    val gapUs = graft.queries.Queries.SessionGapUs
    val streamed = withStreamShuffle(s) { fs =>
      fs.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      import fs.implicits._
      val typed = eventsStream(fs, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .as[Ev]
      val q = typed.groupByKey(_.user_id)
        .transformWithState(new ProfileProcessor(gapUs),
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .toDF()
        .writeStream.queryName(name).format("memory")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq13_stream_profile", q)
      fs.table(name)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    streamed.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("user_id", "n_events", "n_sessions", "first_ms", "last_ms")
      .orderBy("user_id")
  }

  // ------------------------------------------- sq14 foreachBatch file sink

  /** SQ14: EXACTLY-ONCE-BY-IDEMPOTENCE FILE SINK via foreachBatch —
    * the production pattern Structured Streaming prescribes for
    * stores without a transactional streaming writer: a complete-mode
    * aggregate re-emits its full state every micro-batch and
    * foreachBatch OVERWRITES the output path, so a replayed batch
    * (the at-least-once contract after recovery) rewrites identical
    * content and the final files equal the batch aggregate no matter
    * how many times any batch ran. The emitted DataFrame is the
    * read-back of the files the sink actually wrote — the oracle
    * checks the on-disk result, not the in-memory stream.
    *
    * Scale shape: the aggregate state is |event_type| rows; the
    * rewrite cost is the AGGREGATE's size, never the stream's. For
    * append-shaped outputs the same pattern partitions by window and
    * overwrites only the affected partitions (dynamic partition
    * overwrite), which sq1's windowed shape composes with. */
  def sq14ForeachBatchSink(s: SparkSession, dir: String): DataFrame = {
    val out = s"/tmp/graft_sq14_${System.nanoTime()}"
    withStreamShuffle(s) { fs =>
      val agg = eventsStream(fs, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("soma"))
      val q = agg.writeStream
        .outputMode("complete")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("overwrite").parquet(out)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq14_foreach_sink", q)
    }
    Tables.read(s, out).orderBy("event_type")
  }

  /** SQ14's DuckDB oracle: the batch aggregate the idempotent sink
    * must land on disk. */
  val sq14Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS soma
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** SQ13's checkpointed twin for the RECOVERY drill: the same
    * transformWithState profile run over a raw source dir with a
    * durable checkpoint and a foreachBatch parquet sink (append —
    * the memory sink cannot recover). A restart restores every
    * user's typed ValueState from the RocksDB snapshot and continues
    * the counts; the spec proves it by splitting the input across
    * two runs and checking (a) the second run reads ONLY the new
    * files, (b) the max-n profile per user equals the batch profile
    * over the full input. Returns rows read this run. */
  def sq13Incremental(s: SparkSession, srcDir: String, checkpoint: String,
      outDir: String, changelog: Boolean = false): Long = {
    withStreamShuffle(s) { fs =>
      fs.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // the recovery drill's changelog leg (round-13 verdict #5): the
      // spec runs the same split-input restart with changelog
      // checkpointing on and pins profile equality + the
      // checkpoint-shape difference (changelog files present)
      if (changelog || rocksdbChangelogRequested)
        fs.conf.set("spark.sql.streaming.stateStore.rocksdb" +
          ".changelogCheckpointing.enabled", "true")
      import fs.implicits._
      val typed = eventsStreamAt(fs, srcDir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .as[Ev]
      val q = typed.groupByKey(_.user_id)
        .transformWithState(new ProfileProcessor(graft.queries.Queries.SessionGapUs),
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .toDF()
        .writeStream
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(outDir)
        }
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.map(_.numInputRows).sum
    }
  }

  // ------------------------------------------ sq15 V2 timer sessionizer

  /** SQ15's stateful processor — the TIMER leg of the V2 API
    * ([[ProfileProcessor]] covers ValueState; this adds
    * registerTimer/handleExpiredTimer under TimeMode.EventTime): the
    * sq6 gap-rule sessionizer where the FINAL open session emits from
    * an event-time timer when the watermark passes lastUs + gap —
    * the V2 rewrite of sq7's GroupStateTimeout shape. Each batch
    * re-arms the key's single timer (delete-then-register; a stale
    * timer would flush a still-live session early on the next
    * watermark advance). */
  final class TimerSessionProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EvW, Session] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[SessionState] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[EvW],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[Session] = {
      val sorted = rows.toArray.sortBy(e => (e.us, e.event_id))
      if (sorted.isEmpty) return Iterator.empty
      var out = List.empty[Session]
      var st = if (state.exists()) state.get() else null
      sorted.foreach { e =>
        st =
          if (st == null) SessionState(1L, e.us, e.us, 1L)
          else if (e.us - st.lastUs > gapUs) {
            out ::= Session(key, st.sid, st.n, st.startUs, st.lastUs - st.startUs)
            SessionState(st.sid + 1, e.us, e.us, 1L)
          } else st.copy(lastUs = e.us, n = st.n + 1)
      }
      state.update(st)
      val h = getHandle
      h.listTimers().foreach(t => h.deleteTimer(t.asInstanceOf[Long]))
      h.registerTimer(st.lastUs / 1000 + gapUs / 1000)
      out.reverseIterator
    }

    override def handleExpiredTimer(key: Long,
        tv: org.apache.spark.sql.streaming.TimerValues,
        info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[Session] =
      if (state.exists()) {
        val st = state.get()
        state.clear()
        Iterator.single(Session(key, st.sid, st.n, st.startUs, st.lastUs - st.startUs))
      } else Iterator.empty
  }

  /** SQ15: the sq6/sq7 sessionizer through `transformWithState`
    * EVENT-TIME TIMERS — closing the V2 API surface (typed state:
    * sq13; timers: here): closed sessions emit as later events prove
    * the gap, each user's final session emits from its timer when
    * the watermark passes lastUs + gap, state clears (idle users
    * EVICT — the unbounded-stream property), and the staged flush
    * tick advances the final watermark past every timer so the
    * output equals the batch q22 row-for-row — the same oracle as
    * sq6/sq7. */
  def sq15StreamTimerSession(s: SparkSession, dir: String): DataFrame = {
    val gapUs = graft.queries.Queries.SessionGapUs
    val name = s"sq15_${System.nanoTime()}"
    val work = stageWithFlushTick(s, dir, gapUs)
    val streamed = withStreamShuffle(s, WideStatePartitions) { fs =>
      fs.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      import fs.implicits._
      val typed = eventsStreamAt(fs, work)
        .withWatermark("ts", "0 seconds")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
          col("ts"))
        .as[EvW]
      val q = typed.groupByKey(_.user_id)
        .transformWithState(new TimerSessionProcessor(gapUs),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .toDF()
        .writeStream.queryName(name).format("memory")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq15_stream_timer_session", q)
      fs.table(name)
    }
    streamed.filter(col("user_id") >= 0).orderBy("user_id", "sid")
  }

  // ------------------------------------------- sq16 ListState last-N

  /** Recent-history buffer size. */
  val LastN = 3

  /** Emitted last-N row (most recent first; −1 pads). */
  final case class LastNRow(user_id: Long, n_seen: Long, l1: Long, l2: Long, l3: Long)

  /** SQ16's processor — the LISTSTATE leg of the V2 API: a bounded
    * most-recent-[[LastN]] event-id buffer per user (the
    * recent-history feature every personalization/abuse model reads),
    * plus a ValueState counter making emissions monotone (max-n_seen
    * row = final). The buffer stores oldest→newest and trims on
    * append — state is O(N) per user forever. */
  final class LastNProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, LastNRow] {
    @transient private var buf: org.apache.spark.sql.streaming.ListState[Long] = _
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      buf = getHandle.getListState[Long]("recent",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[LastNRow] = {
      val sorted = rows.toArray.sortBy(e => (e.us, e.event_id))
      if (sorted.isEmpty) return Iterator.empty
      val cur = buf.get().toArray ++ sorted.map(_.event_id)
      val trimmed = cur.takeRight(LastN)
      buf.put(trimmed)
      val n = (if (seen.exists()) seen.get() else 0L) + sorted.length
      seen.update(n)
      val recentFirst = trimmed.reverse.padTo(LastN, -1L)
      Iterator.single(LastNRow(key, n, recentFirst(0), recentFirst(1), recentFirst(2)))
    }
  }

  /** SQ16: PER-USER RECENT-HISTORY BUFFER via `transformWithState`
    * ListState — bounded O(N)-per-user state under any stream volume;
    * the batch oracle ranks each user's events by recency. */
  def sq16StreamLastn(s: SparkSession, dir: String): DataFrame = {
    val name = s"sq16_${System.nanoTime()}"
    val streamed = withStreamShuffle(s) { fs =>
      fs.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      import fs.implicits._
      val typed = eventsStream(fs, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .as[Ev]
      val q = typed.groupByKey(_.user_id)
        .transformWithState(new LastNProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .toDF()
        .writeStream.queryName(name).format("memory")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq16_stream_lastn", q)
      fs.table(name)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_seen").desc)
    streamed.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("user_id", "n_seen", "l1", "l2", "l3")
      .orderBy("user_id")
  }

  val sq16Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |  FROM events
       |), r AS (
       |  SELECT user_id, event_id,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY us DESC, event_id DESC) AS rn,
       |    count(*) OVER (PARTITION BY user_id) AS n
       |  FROM e
       |)
       |SELECT user_id, CAST(max(n) AS BIGINT) AS n_seen,
       |  CAST(coalesce(max(CASE WHEN rn = 1 THEN event_id END), -1) AS BIGINT) AS l1,
       |  CAST(coalesce(max(CASE WHEN rn = 2 THEN event_id END), -1) AS BIGINT) AS l2,
       |  CAST(coalesce(max(CASE WHEN rn = 3 THEN event_id END), -1) AS BIGINT) AS l3
       |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------- sq17 MapState counters

  /** Emitted per-type counter row. */
  final case class TypeCounts(user_id: Long, total: Long, n_click: Long,
      n_error: Long, n_purchase: Long, n_signup: Long, n_view: Long)

  /** Typed event row carrying the type (sq17 input). */
  final case class EvT(user_id: Long, event_id: Long, us: Long, event_type: String)

  /** SQ17's processor — the MAPSTATE leg of the V2 API: per-user
    * map(event_type → count), point-updated per arrival (at scale a
    * map entry updates without rewriting the rest of the user's
    * state — the reason MapState exists over a ValueState[Map]). */
  final class TypeCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EvT, TypeCounts] {
    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[EvT],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[TypeCounts] = {
      var any = false
      rows.foreach { e =>
        any = true
        val c = if (counts.containsKey(e.event_type)) counts.getValue(e.event_type) else 0L
        counts.updateValue(e.event_type, c + 1)
      }
      if (!any) return Iterator.empty
      val m = counts.iterator().map(p => p._1 -> p._2).toMap
      def g(t: String) = m.getOrElse(t, 0L)
      Iterator.single(TypeCounts(key, m.values.sum, g("click"), g("error"),
        g("purchase"), g("signup"), g("view")))
    }
  }

  /** SQ17: PER-USER TYPE COUNTERS via `transformWithState` MapState —
    * with sq13 (ValueState), sq15 (event-time timers) and sq16
    * (ListState), the V2 arbitrary-stateful API surface is complete.
    * Oracle: the batch pivot. */
  def sq17StreamTypeCounts(s: SparkSession, dir: String): DataFrame = {
    val name = s"sq17_${System.nanoTime()}"
    val streamed = withStreamShuffle(s) { fs =>
      fs.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      import fs.implicits._
      val typed = eventsStream(fs, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
          col("event_type"))
        .as[EvT]
      val q = typed.groupByKey(_.user_id)
        .transformWithState(new TypeCountProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .toDF()
        .writeStream.queryName(name).format("memory")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq17_stream_type_counts", q)
      fs.table(name)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("total").desc)
    streamed.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("user_id", "total", "n_click", "n_error", "n_purchase",
        "n_signup", "n_view")
      .orderBy("user_id")
  }

  val sq17Sql: String =
    """SELECT user_id, count(*) AS total,
      |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
      |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------- sq18 chained stream joins

  /** SQ18: CHAINED STREAM-STREAM JOINS — the three-stage funnel
    * view→click→purchase as TWO cascaded stream-stream interval
    * joins (view⋈click within 6 h, then ⋈purchase within 12 h of
    * the click — windows sized to the fixture's per-user event
    * density): the multi-stateful-operator shape Spark supports
    * since the watermark-propagation rework — the intermediate
    * stream's event-time columns keep their watermarks, so the second
    * join's state evicts off the FIRST join's output watermark. sq3
    * proved one stream-stream join; this proves they COMPOSE, which
    * is what a real attribution pipeline needs.
    *
    * Scale shape: both joins key their state by user_id, so the
    * second join reuses the first's partitioning (no extra shuffle of
    * the intermediate — state stores co-locate); per-side state stays
    * one-watermark-horizon-bounded exactly as sq3. Oracle: the batch
    * 3-way interval join. */
  def sq18StreamJoinChain(s: SparkSession, dir: String): DataFrame = {
    val name = s"sq18_${System.nanoTime()}"
    withStreamShuffle(s) { fs =>
      // ONE file stream source shared by the three sides (self-join),
      // not three: each source costs its own offset planning, offset/
      // commit log entries and per-batch latestOffset/getBatch round
      // trips (~110 ms/batch measured for the three), and triples the
      // plan the per-batch replanner walks (queryPlanning was 666 ms
      // on batch 0). Identical semantics: each side applies the same
      // 2 h watermark to the same rows, and the join output is
      // row-identical (oracle-proven).
      val ev = eventsStream(fs, dir)
      def side(evType: String, prefix: String): DataFrame =
        ev.filter(col("event_type") === evType)
          .select(col("event_id").as(s"${prefix}_id"),
            col("user_id").as(s"${prefix}_user"), col("ts").as(s"${prefix}_ts"))
          .withWatermark(s"${prefix}_ts", "2 hours")
      val vc = side("view", "view").join(side("click", "click"),
        expr("""view_user = click_user
               |AND click_ts >= view_ts
               |AND click_ts <= view_ts + INTERVAL 6 HOURS""".stripMargin))
        // exactly ONE event-time column may enter the next stateful
        // operator: demote view_ts to a plain epoch long (no
        // event-time metadata) and let click_ts carry the watermark
        .select(col("view_id"), unix_micros(col("view_ts")).as("view_us"),
          col("click_id"), col("click_user"), col("click_ts"))
      val q = vc.join(side("purchase", "purchase"),
        expr("""click_user = purchase_user
               |AND purchase_ts >= click_ts
               |AND purchase_ts <= click_ts + INTERVAL 12 HOURS""".stripMargin))
        .select(col("click_user").as("user_id"), col("view_id"), col("click_id"),
          col("purchase_id"),
          (unix_micros(col("purchase_ts")) - col("view_us")).as("funnel_us"))
        .writeStream.queryName(name).format("memory")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq18_stream_join_chain", q)
      sinkSorted(fs, name, col("view_id"), col("click_id"), col("purchase_id"))
    }
  }

  /** SQ18's DuckDB oracle: the identical 3-way interval join in batch. */
  val sq18Sql: String =
    """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
      |  p.event_id AS purchase_id,
      |  epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(v.ts AS TIMESTAMP))
      |    AS funnel_us
      |FROM events v
      |JOIN events c ON v.user_id = c.user_id
      |  AND v.event_type = 'view' AND c.event_type = 'click'
      |  AND CAST(c.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
      |  AND CAST(c.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 6 HOUR
      |JOIN events p ON c.user_id = p.user_id AND p.event_type = 'purchase'
      |  AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
      |  AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 12 HOUR
      |ORDER BY view_id, click_id, purchase_id""".stripMargin

  // ------------------------------------------- sq19 late-data audit

  /** sq19's watermark delay (µs) and window size (µs). */
  val LateDelayUs: Long = 3600000000L
  val LateWindowUs: Long = 3600000000L

  /** SQ19: LATE-DATA DROP SEMANTICS, pinned — the one watermark
    * behavior a single-batch AvailableNow run can never exercise
    * (sq1Append sees all data before the watermark first advances, so
    * nothing is ever late). Here the source REPLAYS in three
    * deterministic micro-batches (events staged into three files by
    * event_id mod 3, processing order forced by modification time,
    * `maxFilesPerTrigger=1`), so later batches carry rows far older
    * than the watermark batch 1 established. The protocol this pins
    * was MEASURED, not assumed (numRowsDroppedByWatermark per batch:
    * 0, 0, 718): the watermark takes effect for LATE-ROW FILTERING
    * one micro-batch after the data that produced it — batch i
    * filters against max-event-time through batch i−2 (the
    * planning-time propagation lag) — while EVICTION/EMISSION at a
    * batch's end uses the batch-end watermark (data through i−1),
    * and the AvailableNow final no-data batch emits everything the
    * global watermark closes. The oracle SIMULATES exactly this
    * (per-file max event times → lagged filter watermarks → the
    * global emit rule), so the hash match pins the engine's actual
    * semantics, propagation lag and strict inequalities included.
    *
    * Scale shape: state is one row per open window; late rows die at
    * the EventTimeWatermark filter BEFORE the aggregation shuffle —
    * which is the entire production point of watermarks: unbounded
    * disorder costs state, bounded disorder costs a filter. */
  /** Shared sq19/sq20 staging: split events into three files by
    * event_id mod 3 with forced ascending mtimes, so a
    * maxFilesPerTrigger=1 replay processes them in a deterministic
    * order. SELF-DIAGNOSING (round-9 ADVICE): the oracles for sq19/
    * sq20 hard-code two empirically measured protocol facts — the
    * one-batch watermark-propagation lag of Spark 4.1.2's micro-batch
    * planner, and the one-part-file-per-stage layout this coalesce(1)
    * write produces. Each stage asserts EXACTLY one part file after
    * the move (a multi-part stage would silently drop the extra parts
    * from the replay and the oracle would mismatch with no pointer to
    * the cause), and the failure message names the Spark-version
    * dependency so a future bump that shifts either fact
    * self-diagnoses instead of presenting as a bare hash mismatch. */
  private def stageByMod3(s: SparkSession, dir: String, staged: String)
      : org.apache.spark.sql.types.StructType = {
    val e = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
    (0 until 3).foreach { i =>
      val tmp = s"$staged/stage$i"
      e.filter(pmod(col("event_id"), lit(3)) === i).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val parts = {
        val st = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
        } finally st.close()
      }
      require(parts.size == 1,
        s"sq19/sq20 staging expects exactly one part file per stage " +
          s"(coalesce(1) under Spark 4.1.2's commit protocol); stage$i " +
          s"produced ${parts.size}. The DuckDB oracles simulate a " +
          "one-file-per-batch replay and Spark 4.1.2's one-batch " +
          "watermark-propagation lag — a Spark version bump that changes " +
          "either invalidates the oracle, not the engine.")
      val dest = java.nio.file.Paths.get(staged, s"f$i.parquet")
      java.nio.file.Files.move(parts.head, dest)
      // distinct ascending mtimes force the replay order the oracle's
      // batch simulation assumes
      dest.toFile.setLastModified((i + 1) * 60000L)
    }
    e.schema
  }

  def sq19LateDataAudit(s: SparkSession, dir: String): DataFrame = {
    val staged = graft.operators.PlanCache.tempDir("graft_late_")
    val schema = stageByMod3(s, dir, staged)
    val name = s"sq19_${System.nanoTime()}"
    withStreamShuffle(s) { fs =>
      val q = fs.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("soma"))
        .select(unix_millis(col("w.start")).as("janela_ms"), col("n"), col("soma"))
        .writeStream.queryName(name).format("memory")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq19_late_data", q)
      sinkSorted(fs, name, col("janela_ms"))
    }
  }

  /** The batch-protocol simulation: per-file max event times, the
    * ONE-BATCH-LAGGED filter watermark (batch i filters on data
    * through batch i−2 — the measured propagation lag), and the
    * global final-watermark emit rule. */
  val sq19Sql: String =
    s"""WITH e AS (
       |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, value,
       |    event_id % 3 AS f
       |  FROM events
       |), m AS (
       |  SELECT f, max(us) AS mx FROM e GROUP BY f
       |), surv AS (
       |  SELECT e.us, e.value,
       |    (e.us // $LateWindowUs) * $LateWindowUs AS wstart,
       |    (e.us // $LateWindowUs + 1) * $LateWindowUs AS wend,
       |    (SELECT max(mx) - $LateDelayUs FROM m WHERE m.f <= e.f - 2) AS wm
       |  FROM e
       |)
       |SELECT wstart // 1000 AS janela_ms, count(*) AS n,
       |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS soma
       |FROM surv
       |WHERE (wm IS NULL OR wend > wm)
       |  AND wend <= (SELECT max(mx) - $LateDelayUs FROM m)
       |GROUP BY 1 ORDER BY janela_ms""".stripMargin

  // ------------------------------------------- sq20 update mode

  /** SQ20: UPDATE OUTPUT MODE, pinned — the third output mode
    * (complete: sq1/sq4; append: sq1Append/sq19): each micro-batch
    * emits ONLY the windows whose aggregate CHANGED, and the memory
    * sink accumulates every emission, so the sink contents encode the
    * whole update HISTORY — per window, the final count is the LAST
    * (= max, counts are monotone) emission and the emission count is
    * the number of batches that touched it. Runs over sq19's
    * deterministic 3-file replay so the emission protocol composes
    * with the measured late-filter lag (a window a late batch's
    * surviving rows touch re-emits; one the lagged filter starves
    * doesn't). The oracle derives both columns from the same
    * file-assignment + lagged-watermark rules.
    *
    * Scale shape: update mode's emission volume is touched-windows
    * per batch (not full state like complete) — the changelog shape
    * a downstream upsert sink (q151's CDC apply) consumes. */
  def sq20UpdateMode(s: SparkSession, dir: String): DataFrame = {
    val staged = graft.operators.PlanCache.tempDir("graft_upd_")
    val schema = stageByMod3(s, dir, staged)
    val name = s"sq20_${System.nanoTime()}"
    withStreamShuffle(s) { fs =>
      val q = fs.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(unix_millis(col("w.start")).as("janela_ms"), col("n"))
        .writeStream.queryName(name).format("memory")
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq20_update_mode", q)
      fs.table(name)
        .groupBy("janela_ms")
        .agg(max(col("n")).as("final_n"), count(lit(1)).as("n_emissions"))
        .orderBy("janela_ms")
    }
  }

  /** Per window: survivors under the lagged filter give the final
    * count; batches with ≥1 surviving row give the emission count. */
  val sq20Sql: String =
    s"""WITH e AS (
       |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id % 3 AS f
       |  FROM events
       |), m AS (
       |  SELECT f, max(us) AS mx FROM e GROUP BY f
       |), surv AS (
       |  SELECT e.us, e.f,
       |    (e.us // $LateWindowUs) * $LateWindowUs AS wstart,
       |    (e.us // $LateWindowUs + 1) * $LateWindowUs AS wend,
       |    (SELECT max(mx) - $LateDelayUs FROM m WHERE m.f <= e.f - 2) AS wm
       |  FROM e
       |), kept AS (
       |  SELECT * FROM surv WHERE wm IS NULL OR wend > wm
       |)
       |SELECT wstart // 1000 AS janela_ms, count(*) AS final_n,
       |  count(DISTINCT f) AS n_emissions
       |FROM kept GROUP BY 1 ORDER BY janela_ms""".stripMargin

  /** SQ21: STREAMING PSI DRIFT MONITOR — q175's production face: the
    * live event stream (odd population — the "today" traffic) banded
    * and counted per (1-day window, event_type, value band) as ONE
    * watermarked stateful aggregation; the monitor's read side then
    * scores each CLOSED day against the STATIC baseline profile (the
    * even population, aggregated batch-side) with the same
    * Laplace-smoothed PSI arithmetic. This is how drift monitoring
    * actually deploys: state holds only the open windows' band
    * counts (≤ |types|·10 rows per day, watermark expires them), the
    * baseline is a broadcast-sized static table, and the PSI
    * reduction runs over the sink's closed-window rows — never
    * inside the stream.
    *
    * Band-set discipline: per (day, type) the term set is the UNION
    * of bands observed live that day or in the baseline (full-outer
    * join), Laplace-smoothed (+1 per band) so one-sided bands
    * contribute finite terms — the q175 rules, so the batch twin is
    * the oracle. */
  def sq21StreamPsiMonitor(s: SparkSession, dir: String): DataFrame = {
    import graft.queries.PipelineOps.{PsiBucketWidth, PsiMaxBucket, PsiThresh}
    val name = s"sq21_${System.nanoTime()}"
    def band(c: org.apache.spark.sql.Column) =
      least(floor(c / PsiBucketWidth), lit(PsiMaxBucket)).cast("int").as("band")
    withStreamShuffle(s) { fs =>
      val baseline = Tables.events(fs, dir)
        .filter(col("event_id") % 2 === 0)
        .groupBy(col("event_type"), band(col("value")))
        .agg(count(lit(1)).as("cb"))
      val q = eventsStream(fs, dir)
        .filter(col("event_id") % 2 === 1)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"),
          band(col("value")))
        .agg(count(lit(1)).as("cl"))
        .select(unix_millis(col("w.start")).as("janela_ms"),
          col("event_type"), col("band"), col("cl"))
        .writeStream.queryName(name).format("memory")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq21_stream_psi_monitor", q)
      val live = fs.table(name)
      // monitor read side (batch over the sink): replicate the static
      // baseline across the closed days, union the band sets. The day
      // list is BOUNDED by the monitor horizon (one row per closed
      // day), so reading it back is a scalar-sized action — and a
      // fresh literal frame sidesteps the self-referencing memory-sink
      // plan (full-outer join of a view with its own Deduplicate is a
      // conflicting-reference error)
      import scala.jdk.CollectionConverters._
      val dayVals = live.select("janela_ms").distinct()
        .collect().map(_.getLong(0)).toSeq
      val days = fs.createDataFrame(
        dayVals.map(org.apache.spark.sql.Row(_)).asJava,
        StructType(Seq(StructField("janela_ms", LongType))))
      val sided = live
        .join(days.crossJoin(baseline), Seq("janela_ms", "event_type", "band"),
          "full_outer")
        .select(col("janela_ms"), col("event_type"), col("band"),
          coalesce(col("cl"), lit(0L)).as("cl"),
          coalesce(col("cb"), lit(0L)).as("cb"))
      val wk = org.apache.spark.sql.expressions.Window
        .partitionBy("janela_ms", "event_type")
      val base = sided
        .withColumn("nl", sum("cl").over(wk))
        .withColumn("nb", sum("cb").over(wk))
        .withColumn("nbands", count(lit(1)).over(wk))
      val pl = (col("cl") + 1).cast("double") / (col("nl") + col("nbands"))
      val pb = (col("cb") + 1).cast("double") / (col("nb") + col("nbands"))
      base.groupBy("janela_ms", "event_type")
        .agg(max("nl").as("n_live"), max("nb").as("n_base"),
          sum(round((pl - pb) * log(pl / pb), 10).cast(DecimalType(28, 10)))
            .as("psi10"))
        .select(col("janela_ms"), col("event_type"), col("n_live"),
          col("n_base"), round(col("psi10").cast("double"), 6).as("psi"))
        .withColumn("drifted", col("psi") >= PsiThresh)
        .orderBy("janela_ms", "event_type")
    }
  }

  /** SQ21's DuckDB oracle: the batch twin — closed days under the
    * final watermark (day end ≤ max ts − 2 h), baseline = the even
    * population over all time, identical smoothing and DECIMAL term
    * discipline. */
  val sq21Sql: String = {
    import graft.queries.PipelineOps.{PsiBucketWidth, PsiMaxBucket, PsiThresh}
    s"""WITH wm AS (
       |  SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 2 HOUR AS w FROM events
       |), banded AS (
       |  SELECT event_id, event_type,
       |    CAST(least(floor(value / $PsiBucketWidth), $PsiMaxBucket) AS INTEGER)
       |      AS band,
       |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS d
       |  FROM events
       |), baseline AS (
       |  SELECT event_type, band, count(*) AS cb
       |  FROM banded WHERE event_id % 2 = 0 GROUP BY 1, 2
       |), live AS (
       |  SELECT epoch_ms(d) AS janela_ms, event_type, band, count(*) AS cl
       |  FROM banded CROSS JOIN wm
       |  WHERE event_id % 2 = 1 AND d + INTERVAL 1 DAY <= wm.w
       |  GROUP BY 1, 2, 3
       |), days AS (
       |  SELECT DISTINCT janela_ms FROM live
       |), sided AS (
       |  SELECT coalesce(l.janela_ms, db.janela_ms) AS janela_ms,
       |    coalesce(l.event_type, db.event_type) AS event_type,
       |    coalesce(l.band, db.band) AS band,
       |    coalesce(l.cl, 0) AS cl, coalesce(db.cb, 0) AS cb
       |  FROM live l
       |  FULL OUTER JOIN (SELECT janela_ms, event_type, band, cb
       |                   FROM days CROSS JOIN baseline) db
       |    ON l.janela_ms = db.janela_ms AND l.event_type = db.event_type
       |      AND l.band = db.band
       |), b AS (
       |  SELECT janela_ms, event_type, cl, cb,
       |    sum(cl) OVER wk AS nl, sum(cb) OVER wk AS nb,
       |    count(*) OVER wk AS nbands
       |  FROM sided
       |  WINDOW wk AS (PARTITION BY janela_ms, event_type)
       |), p AS (
       |  SELECT janela_ms, event_type, CAST(max(nl) AS BIGINT) AS n_live,
       |    CAST(max(nb) AS BIGINT) AS n_base,
       |    round(CAST(sum(CAST(round(
       |      (CAST(cl + 1 AS DOUBLE) / (nl + nbands)
       |        - CAST(cb + 1 AS DOUBLE) / (nb + nbands))
       |      * ln((CAST(cl + 1 AS DOUBLE) / (nl + nbands))
       |        / (CAST(cb + 1 AS DOUBLE) / (nb + nbands))), 10)
       |      AS DECIMAL(28,10))) AS DOUBLE), 6) AS psi
       |  FROM b GROUP BY 1, 2
       |)
       |SELECT janela_ms, event_type, n_live, n_base, psi,
       |  psi >= $PsiThresh AS drifted
       |FROM p ORDER BY janela_ms, event_type""".stripMargin
  }

  /** SQ13's DuckDB oracle: the batch per-user profile under the same
    * 30-min session-gap rule. */
  val sq13Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |  FROM events
       |), o AS (
       |  SELECT user_id, us,
       |    lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS pus
       |  FROM e
       |)
       |SELECT user_id, count(*) AS n_events,
       |  CAST(sum(CASE WHEN pus IS NULL OR us - pus > ${graft.queries.Queries.SessionGapUs}
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       |  min(us) // 1000 AS first_ms, max(us) // 1000 AS last_ms
       |FROM o GROUP BY user_id ORDER BY user_id""".stripMargin

  // --------------------------------------- sq22 streaming near-dup gate

  /** SQ22: STREAMING NEAR-DUP ADMISSION GATE — the MinHash-LSH axis of
    * the crawl-ingest gate, the near-dup face of sq9 exactly as sq9 is
    * the exact-dup face of q92: each arriving new-batch document
    * (doc_id ≡ 0 mod [[graft.llmops.TextOps.IncrMod]]) computes its
    * k=16 MinHash signature IN-ROW (its [[graft.functions.DocSketch]] —
    * no shuffle, no state), bands it with the q37 geometry, and probes
    * the STATIC history band index; a document whose every band misses
    * is admitted.
    *
    * Scale shape: the stream side is a pure per-row map (signature +
    * 4 band hashes) feeding four stateless broadcast left joins against
    * the persisted history index — arrival order cannot affect any
    * row's result, so the batch probe is the oracle (the sq9 argument).
    * At production index sizes the same joins shuffle on bh instead of
    * broadcasting (one conf flip, same algebra), or a Bloom filter over
    * bh pre-screens (q87). What this gate deliberately does NOT do is
    * pair verification (exact Jaccard needs a pair aggregation a
    * no-watermark append stream cannot host) — it emits the BAND-HIT
    * COUNT so downstream batch verification (q37's verify leg) prices
    * only flagged docs.
    *
    * Short documents (<3 words, no shingles) carry null band hashes —
    * null join keys never match, so they admit with 0 hits, matching
    * the batch index which never contains them. */
  /** The per-row MinHash band hashes `bh0..bh3` of a `text` column:
    * the row's [[graft.functions.DocSketch]] signature banded by
    * [[graft.llmops.TextOps.bandHash]], the geometry of the batch
    * index. The sketch is its own projection, so it is evaluated once
    * per row, not once per band. Documents with <3 words have no
    * sketch and get null band hashes (null join keys never match —
    * they admit with 0 hits, matching the batch index which never
    * contains them); `concat_ws` over null values would give md5(''),
    * hence the guard. Shared by [[sq22StreamNeardupGate]] and the spec
    * that pins it against the batch banding (TextOps.minhashSigs →
    * bandedSigs) doc for doc. */
  private[graft] def withInRowBands(df: DataFrame): DataFrame = {
    val T = graft.llmops.TextOps
    df.select(col("doc_id"), graft.functions.GraftFunctions.docSketch(col("text")).as("sk"))
      .select(col("doc_id") +: (0 until T.Bands).map { bnd =>
        when(col("sk").isNotNull, T.bandHash(bnd, j => col("sk.m").getItem(j))).as(s"bh$bnd")
      }: _*)
  }

  def sq22StreamNeardupGate(s: SparkSession, dir: String): DataFrame = {
    val name = s"sq22_${System.nanoTime()}"
    val T = graft.llmops.TextOps
    val incrMod = T.IncrMod
    withStreamShuffle(s) { fs =>
      // the corpus LSH index a production gate keeps persisted: q37's
      // banding of the HISTORY docs' signature table, read through the
      // caller's session `s` — the artifact is keyed by session, and
      // `fs` is new on every call
      val hist = T.bandedSigs(
        T.minhashSigs(s, dir).filter(col("doc_id") % incrMod =!= 0))
        .select(col("band"), col("bh")).distinct()
      val stream = withInRowBands(
        parquetStream(fs, s"$dir/documents.parquet")
          .filter(col("doc_id") % incrMod === 0))
      val probed = (0 until T.Bands).foldLeft(stream) { (df, bnd) =>
        df.join(broadcast(hist.filter(col("band") === bnd)
          .select(col("bh").as(s"bh$bnd"), lit(true).as(s"xh$bnd"))),
          Seq(s"bh$bnd"), "left")
      }
      val hits = (0 until T.Bands)
        .map(bnd => coalesce(col(s"xh$bnd"), lit(false)).cast("int"))
        .reduce(_ + _)
      val q = probed
        .select(col("doc_id"), hits.as("n_band_hits"),
          (hits === 0).as("admitted"))
        .writeStream.queryName(name).format("memory")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq22_stream_neardup_gate", q)
      sinkSorted(fs, name, col("doc_id"))
    }
  }

  /** SQ22's DuckDB oracle: the identical batch probe — new docs' band
    * hashes left-joined to the distinct history band index. */
  val sq22Sql: String = {
    val T = graft.llmops.TextOps
    s"""WITH sh AS (
       |  SELECT doc_id, ${T.shinglesSql} AS sh
       |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents)
       |  WHERE len(w) >= 3
       |), ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh
       |), hx AS (SELECT doc_id, ${T.baseHashSql("shingle")} AS h FROM ex
       |), sig AS (SELECT doc_id, ${T.sigColsSql} FROM hx GROUP BY doc_id
       |), banded AS (
       |  ${T.bandRowsSql}
       |), hist AS (
       |  SELECT DISTINCT band, bh FROM banded
       |  WHERE doc_id % ${T.IncrMod} <> 0
       |), hits AS (
       |  SELECT nb.doc_id, count(DISTINCT nb.band) AS nbh
       |  FROM (SELECT * FROM banded WHERE doc_id % ${T.IncrMod} = 0) nb
       |  JOIN hist ON nb.band = hist.band AND nb.bh = hist.bh
       |  GROUP BY nb.doc_id
       |)
       |SELECT d.doc_id, CAST(coalesce(h.nbh, 0) AS INT) AS n_band_hits,
       |  coalesce(h.nbh, 0) = 0 AS admitted
       |FROM (SELECT doc_id FROM documents WHERE doc_id % ${T.IncrMod} = 0) d
       |LEFT JOIN hits h USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** SQ23: SELF-CALIBRATING STREAM ANOMALY MONITOR — each CLOSED
    * 1-hour window of each event type is scored against the PREVIOUS
    * closed window's statistics: z = (mean − prev_mean) /
    * √(prev_var / n), |z| ≥ 3 flags a mean shift. sq21 monitors drift
    * against a FIXED baseline profile; this is the adjacent-window
    * sequential monitor that needs no baseline at all — the state a
    * self-calibrating alert system keeps.
    *
    * Stream/batch split (the sq21 deployment shape): the STREAM owns
    * exactly the stateful part — one watermarked windowed aggregation
    * per (window, type) holding (n, Σv, Σv²) as exact DECIMAL sums
    * (state: open windows × |types|, the saturating family; append
    * mode emits each window once, closed). The scoring — lag window
    * over the emitted rows, derived mean/variance, the z test — runs
    * on the sink's closed-window rows, never inside the stream.
    *
    * Cross-engine exactness: per-window sums are DECIMAL(28,6) of
    * 6dp-rounded terms (the sq21 term discipline — no float-sum
    * ordering), every derived double (mean, var, z) is computed from
    * those exactly-equal inputs by the same expression shape, z
    * rounds to 6; z is NULL (and anomalous false) for a type's first
    * closed window or a zero prior variance.
    *
    * Declared overflow envelope (round-13 ADVICE — the budget named
    * where the code lives, and spec-pinned at the boundary in
    * Round14Spec): DECIMAL(38,6) holds |Σ| < 10^32, and each s2 term
    * is round(v², 6), so a (window, type) cell overflows under ANSI
    * when Σv² reaches 10^32 — at the adversarial fixture's |v| = 1e15
    * extreme that is exactly 100 rows/cell (99 pass, 100 throw,
    * measured); at the testdata's |v| ≲ 1e4 scale the same budget is
    * ~10^24 rows/cell — unreachable. ANSI makes the failure LOUD (the
    * query errors rather than emitting a silently-wrapped sum); a
    * deployment expecting |v| > 1e15 inputs should clamp upstream, as
    * pre-scaling inside the sum would break the exact cross-engine
    * term discipline for every normal-scale value. */
  def sq23StreamAnomaly(s: SparkSession, dir: String): DataFrame = {
    val name = s"sq23_${System.nanoTime()}"
    withStreamShuffle(s, WideStatePartitions) { fs =>
      val q = eventsStream(fs, dir)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        // DECIMAL(38,6), not (28,6): the adversarial events fixture
        // carries ±1e15 values whose squares (1e30) overflow 28-digit
        // precision under ANSI; 38,6 holds |v| ≤ 1e16 per row and
        // ~1e32 totals, and the width is free (same 16-byte repr)
        .agg(count(lit(1)).as("n"),
          sum(round(col("value"), 6).cast(DecimalType(38, 6))).as("sv"),
          sum(round(col("value") * col("value"), 6).cast(DecimalType(38, 6)))
            .as("s2"))
        .select(unix_millis(col("w.start")).as("janela_ms"), col("event_type"),
          col("n"), col("sv"), col("s2"))
        .writeStream.queryName(name).format("memory")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq23_stream_anomaly", q)
      val wl = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("janela_ms")
      val m = fs.table(name)
        .withColumn("mean", col("sv").cast("double") / col("n"))
        .withColumn("varv", col("s2").cast("double") / col("n") -
          (col("sv").cast("double") / col("n")) *
            (col("sv").cast("double") / col("n")))
      m.withColumn("pm", lag("mean", 1).over(wl))
        .withColumn("pv", lag("varv", 1).over(wl))
        .select(col("event_type"), col("janela_ms"), col("n"),
          round(col("mean"), 6).as("mean_v"),
          when(col("pv") > 0,
            round((col("mean") - col("pm")) / sqrt(col("pv") / col("n")), 6))
            .as("z"))
        .withColumn("anomalous", coalesce(abs(col("z")) >= 3.0, lit(false)))
        .orderBy("janela_ms", "event_type")
    }
  }

  /** SQ23's DuckDB oracle: the batch twin — hours fully closed under
    * the final watermark, identical DECIMAL term discipline, the same
    * lag/z arithmetic over the closed rows. */
  val sq23Sql: String =
    """WITH wm AS (
      |  SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 2 HOUR AS w FROM events
      |), e AS (
      |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, value
      |  FROM events
      |), agg AS (
      |  SELECT event_type, epoch_ms(h) AS janela_ms, count(*) AS n,
      |    sum(CAST(round(value, 6) AS DECIMAL(38,6))) AS sv,
      |    sum(CAST(round(value * value, 6) AS DECIMAL(38,6))) AS s2
      |  FROM e CROSS JOIN wm
      |  WHERE h + INTERVAL 1 HOUR <= wm.w
      |  GROUP BY 1, 2
      |), m AS (
      |  SELECT event_type, janela_ms, n,
      |    CAST(sv AS DOUBLE) / n AS mean,
      |    CAST(s2 AS DOUBLE) / n
      |      - (CAST(sv AS DOUBLE) / n) * (CAST(sv AS DOUBLE) / n) AS varv
      |  FROM agg
      |), l AS (
      |  SELECT event_type, janela_ms, n, mean,
      |    lag(mean) OVER (PARTITION BY event_type ORDER BY janela_ms) AS pm,
      |    lag(varv) OVER (PARTITION BY event_type ORDER BY janela_ms) AS pv
      |  FROM m
      |)
      |SELECT event_type, janela_ms, n, round(mean, 6) AS mean_v,
      |  CASE WHEN pv > 0
      |    THEN round((mean - pm) / sqrt(pv / n), 6) END AS z,
      |  coalesce(abs(CASE WHEN pv > 0
      |    THEN round((mean - pm) / sqrt(pv / n), 6) END) >= 3, false)
      |    AS anomalous
      |FROM l ORDER BY janela_ms, event_type""".stripMargin

  /** SQ24: STREAMING DISTINCT-USER MONITOR — per closed hourly window
    * × event type: exact row count plus an HLL distinct-user estimate
    * computed IN-STREAM (`approx_count_distinct` partial-merges
    * inside the watermarked windowed aggregation, so each open
    * (window, type) cell holds CONSTANT state — a few KB of HLL
    * registers — where exact distinct would buffer every user id per
    * open window; the only way "distinct users per window" streams at
    * 100 TB). The emitted row certifies the estimate with the
    * q52/q135 free invariants — au ≥ 1 when the cell has rows, au ≤
    * n·(1 + k·rsd) with k/rsd the shared [[graft.queries.Queries]]
    * constants — and ships (window, type, n, boolean certificate):
    * HLL register contents are engine-specific, so the BOOLEAN is the
    * cross-engine surface (the q52 above-gate convention) while the
    * oracle pins the exact n per closed window and the closure rule
    * itself. */
  /** q244: STATE-STORE INTROSPECTION (Spark 4's `statestore` batch
    * data source) — the checkpoint-forensics read a streaming team
    * runs when a query misbehaves: run the hourly windowed count to
    * completion (AvailableNow), then BATCH-READ the checkpoint's
    * state store and emit what the stream is still HOLDING — exactly
    * the OPEN windows (append mode evicts a window's state once its
    * end falls at or under the watermark, so the final state is the
    * complement of sq24's closed-window emission rule). Deterministic
    * because open windows can never have dropped a late event: a
    * window open at the FINAL watermark was open at every
    * intermediate one.
    *
    * Scale shape: the state read is a parallel scan over the
    * checkpoint's per-partition stores (one task per store), output =
    * open (window, type) cells — watermark-bounded, never the stream
    * history. The op's value is the SURFACE: offline inspection of
    * live state without touching the running query's store. */
  def q244StateInspect(s: SparkSession, dir: String): DataFrame = {
    withStreamShuffle(s) { fs =>
      val ckpt = graft.operators.PlanCache.tempDir("q244_ckpt_")
      val q = eventsStream(fs, dir)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      fs.read.format("statestore").load(ckpt)
        .select(unix_millis(col("key.window.start")).as("janela_ms"),
          col("key.event_type").as("event_type"),
          col("value.count").as("n"))
        .orderBy("janela_ms", "event_type")
    }
  }

  /** q244's DuckDB oracle: the OPEN-window complement of sq24's
    * closure rule — windows whose end is strictly above the final
    * watermark, with their full event counts. */
  val q244Sql: String =
    """WITH wm AS (
      |  SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 2 HOUR AS w FROM events
      |), e AS (
      |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h
      |  FROM events
      |)
      |SELECT epoch_ms(h) AS janela_ms, event_type, count(*) AS n
      |FROM e CROSS JOIN wm
      |WHERE h + INTERVAL 1 HOUR > wm.w
      |GROUP BY 1, 2
      |ORDER BY janela_ms, event_type""".stripMargin

  def sq24StreamDistinct(s: SparkSession, dir: String): DataFrame = {
    val name = s"sq24_${System.nanoTime()}"
    withStreamShuffle(s, WideStatePartitions) { fs =>
      val q = eventsStream(fs, dir)
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          approx_count_distinct(col("user_id"), graft.queries.Queries.HllRsd)
            .as("au"))
        .select(unix_millis(col("w.start")).as("janela_ms"),
          col("event_type"), col("n"), col("au"))
        .writeStream.queryName(name).format("memory")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq24_stream_distinct", q)
      fs.table(name)
        .select(col("event_type"), col("janela_ms"), col("n"),
          ((col("au") >= when(col("n") > 0, 1L).otherwise(0L)) &&
            (col("au") <= lit(1.0 + graft.queries.Queries.HllUpperK *
              graft.queries.Queries.HllRsd) * col("n")))
            .as("users_within_bounds"))
        .orderBy("janela_ms", "event_type")
    }
  }

  /** SQ25: NATIVE SESSION WINDOWS — the `session_window(ts, gap)`
    * Catalyst aggregation (dynamic-gap session state merged by the
    * engine across micro-batches), the DECLARATIVE sibling of the
    * sq6/sq7/sq15 hand-rolled sessionizers: same 30-minute gap rule,
    * zero custom state code — the shape a user reaches for FIRST on a
    * real cluster, and the one that lets Spark's session-merge state
    * format, AQE-less stateful planning and watermark eviction do the
    * work. Append mode: a session emits once its window end (last
    * event + gap) falls at or under the watermark.
    *
    * Boundary semantics differ from q22's chain ON PURPOSE and the
    * oracle encodes them: `session_window` SPLITS at gap ≥ 30 min
    * (an event exactly one gap after its predecessor starts a new
    * session) where the q22 lag-rule splits strictly greater; the
    * emitted end is last-event + gap. State = OPEN sessions only
    * (watermark-bounded — the saturating family). */
  def sq25SessionWindow(s: SparkSession, dir: String): DataFrame = {
    val name = s"sq25_${System.nanoTime()}"
    withStreamShuffle(s) { fs =>
      val q = eventsStream(fs, dir)
        .withWatermark("ts", "2 hours")
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"),
          col("user_id"))
        .agg(count(lit(1)).as("n_eventos"))
        .select(col("user_id"), unix_micros(col("sw.start")).as("inicio_us"),
          unix_micros(col("sw.end")).as("fim_us"), col("n_eventos"))
        .writeStream.queryName(name).format("memory")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      recordStatePeak("sq25_session_window", q)
      sinkSorted(fs, name, col("user_id"), col("inicio_us"))
    }
  }

  /** SQ25's DuckDB oracle: the gap chain with session_window's OWN
    * split rule (>= gap) and emitted end (last + gap), closed under
    * the final watermark. */
  val sq25Sql: String = {
    val gap = graft.queries.Queries.SessionGapUs
    s"""WITH wm AS (
       |  SELECT epoch_us(max(CAST(ts AS TIMESTAMP))) - 7200000000 AS w
       |  FROM events
       |), e AS (
       |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |  FROM events
       |), flagged AS (
       |  SELECT user_id, event_id, us,
       |    CASE WHEN lag(us) OVER w IS NULL
       |              OR us - lag(us) OVER w >= $gap
       |         THEN 1 ELSE 0 END AS novo
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
       |), sess AS (
       |  SELECT user_id, us,
       |    sum(novo) OVER (PARTITION BY user_id ORDER BY us, event_id
       |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      AS sid
       |  FROM flagged
       |), agg AS (
       |  SELECT user_id, min(us) AS inicio_us, max(us) + $gap AS fim_us,
       |    count(*) AS n_eventos
       |  FROM sess GROUP BY user_id, sid
       |)
       |SELECT user_id, inicio_us, fim_us, n_eventos
       |FROM agg CROSS JOIN wm WHERE fim_us <= wm.w
       |ORDER BY user_id, inicio_us""".stripMargin
  }

  /** SQ24's DuckDB oracle: the same closed-hour rule and exact counts;
    * the certificate is literal true (the engine-side invariant the
    * stream must satisfy — the q52 above-gate convention). */
  val sq24Sql: String =
    """WITH wm AS (
      |  SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 2 HOUR AS w FROM events
      |), e AS (
      |  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h
      |  FROM events
      |)
      |SELECT event_type, epoch_ms(h) AS janela_ms, count(*) AS n,
      |  true AS users_within_bounds
      |FROM e CROSS JOIN wm
      |WHERE h + INTERVAL 1 HOUR <= wm.w
      |GROUP BY 1, 2
      |ORDER BY janela_ms, event_type""".stripMargin


  // --------------------------------------------------------------- registry

  /** Each streaming entry runs as a real streaming query; its oracle is
    * batch SQL, so the check is streaming/batch equivalence. */
  val defs: Seq[QueryDef] = Seq(
    QueryDef("sq1_stream_tumbling", sq1StreamTumbling, Queries.q21Sql),
    QueryDef("sq2_stream_dedup", sq2StreamDedup, sq2Sql),
    QueryDef("sq3_stream_join", sq3StreamJoin, sq3Sql),
    QueryDef("sq4_stream_sliding", sq4StreamSliding, sq4Sql),
    QueryDef("sq5_stream_enrich", sq5StreamEnrich, sq5Sql),
    QueryDef("sq6_sessionize", sq6Sessionize, Queries.q22Sql),
    QueryDef("sq7_sessionize_timeout", sq7SessionizeTimeout, Queries.q22Sql),
    QueryDef("sq8_stream_sketch", sq8StreamSketch, sq8Sql),
    QueryDef("sq9_stream_incr_dedup", sq9StreamIncrDedup, sq9Sql),
    QueryDef("sq10_stream_dedup_ttl", sq10StreamDedupTtl, sq10Sql),
    QueryDef("sq11_stream_left_join", sq11StreamLeftJoin, sq11Sql),
    QueryDef("sq12_stream_rollup", sq12StreamRollup, sq12Sql),
    QueryDef("sq13_stream_profile", sq13StreamProfile, sq13Sql),
    QueryDef("sq14_foreach_sink", sq14ForeachBatchSink, sq14Sql),
    // same oracle as sq6/sq7: the flush tick makes timer output = q22
    QueryDef("sq15_stream_timer_session", sq15StreamTimerSession, Queries.q22Sql),
    QueryDef("sq16_stream_lastn", sq16StreamLastn, sq16Sql),
    QueryDef("sq17_stream_type_counts", sq17StreamTypeCounts, sq17Sql),
    QueryDef("sq18_stream_join_chain", sq18StreamJoinChain, sq18Sql),
    QueryDef("sq19_late_data", sq19LateDataAudit, sq19Sql),
    QueryDef("sq20_update_mode", sq20UpdateMode, sq20Sql),
    QueryDef("sq21_stream_psi_monitor", sq21StreamPsiMonitor, sq21Sql),
    QueryDef("sq22_stream_neardup_gate", sq22StreamNeardupGate, sq22Sql),
    QueryDef("sq23_stream_anomaly", sq23StreamAnomaly, sq23Sql),
    QueryDef("sq24_stream_distinct", sq24StreamDistinct, sq24Sql),
    QueryDef("sq25_session_window", sq25SessionWindow, sq25Sql),
    QueryDef("sq26_stream_full_outer", sq26StreamFullOuter, sq26Sql),
    QueryDef("q244_state_inspect", q244StateInspect, q244Sql)
  )
}
