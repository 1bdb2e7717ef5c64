package graft

import graft.model.EngineConf
import graft.sources.Generator
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark main (driver-run per round → BENCH_r{N}.json) and the one
  * measurement core every measuring main times through ([[measure]]).
  *
  * Two phases, mirroring the reference's methodology (README.md
  * benchmark modes: produce = generate+serialize+send, consume =
  * fetch+[deserialize]; warm-up excluded — SURVEY.md §6):
  *
  *  1. serde — the reference's workload shape (100 000 × ~1 KB
  *     messages): produce avro/json to files, consume back in
  *     E2E_PARSE and TRANSPORTE modes; reported as msg/s next to the
  *     reference's 6 253.95 msg/s README number.
  *  2. queries — every `SparkEntry.defs` entry, in declared order, on
  *     SPARK_GRAFT_SF_DIR, each materialized through the noop sink
  *     (full execution, zero sink cost — `.count()` would let Catalyst
  *     prune the plan to a metadata scan).
  *
  * `runMain graft.Bench q41_ann_lsh,q67_dedup_clusters` is entry-list
  * mode: only the named entries are timed (no serde, codec or recheck
  * phase), into the same artifact and stdout lines, and each entry's
  * executed plan of its last timed pass is printed after it.
  *
  * SELF-DIAGNOSING (round-2 verdict #1: the driver's numbers ran
  * 3-13× the builder's same-config measurements, and a single cold
  * pass cannot say why). Every entry is measured as ONE untimed warm
  * pass + `SPARK_GRAFT_BENCH_PASSES` (≥3) timed passes; the headline
  * number is the MIN of the timed passes (round-13 verdict #1: the
  * min is the least-contended observation — a contended box turns
  * medians into false regressions; the median rides in
  * `queries_median` + per-entry detail) and the JSON carries the
  * full `{warm, timed[]}` detail per entry, so the variance source is
  * readable from the artifact itself:
  *   warm ≈ timed       → steady-state cost (environment if still slow)
  *   warm ≫ timed       → one-time build (cache/layout/JIT) dominated
  *   timed high-variance → box contention during the run
  * `artifact_cache_hit` additionally reports whether any TIMED pass
  * rebuilt a registered artifact (it never should — a miss means the
  * timed number includes a build cost steady state would not pay).
  */
object Bench {

  /** Locale-fixed number formatting (the f-interpolator honors the
    * JVM default locale and would emit comma decimals — invalid JSON). */
  private[graft] def jnum(v: Double, places: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${places}f", Double.box(v))

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Execute the full plan with no sink cost. */
  private[graft] def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  final case class Timing(warm: Double, timed: Seq[Double]) {
    def median: Double = {
      val s = timed.sorted
      if (s.isEmpty) -1.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    /** Steady-state cost under contention: the box can only make a
      * pass SLOWER, never faster, so the min is the least-contended
      * observation (round-3 verdict #3 — a median of 3 under 3× pass
      * spreads is a coin flip). Reported next to the median. */
    def min: Double = if (timed.isEmpty) -1.0 else timed.min
  }

  /** One timed pass: wall seconds, the executors' summed task run and
    * CPU seconds, hypervisor steal seconds (−1 where unreadable), the
    * Spark jobs, stages and tasks the pass ran, and the classes codegen
    * compiled during it. */
  private[graft] final case class Pass(wall: Double, taskRun: Double,
      taskCpu: Double, steal: Double, jobs: Long, stages: Long, tasks: Long,
      compiles: Long)

  /** One measured entry: its warm pass and its timed passes. */
  private[graft] final case class Measured(warm: Double, passes: Vector[Pass]) {
    def timing: Timing = Timing(warm, passes.map(_.wall))
  }

  /** Steal seconds in the MIN pass above which that pass is considered
    * contaminated and extra passes are run (round-14 verdict #7: sq8's
    * min-based headline still inflated +39% under 37.9 s of measured
    * hypervisor steal across its timed passes — a min is only
    * steal-robust if at least one pass ran steal-clean). */
  private[graft] val StealRetrySec = 0.5
  private val MaxStealRetries = 2

  /** The session of a measuring main: the engine's own
    * ([[GraftSession.getOrCreate]]) with the task and eviction clocks
    * registered. */
  private[graft] def session(appName: String): SparkSession = {
    val spark = GraftSession.getOrCreate(appName)
    TaskClock.register(spark.sparkContext)
    EvictionClock.register(spark.sparkContext)
    spark
  }

  /** THE measurement loop: one untimed warm pass of each `go`, then
    * `passes` timed rounds over all of them. One `go` is the plain warm +
    * N loop; several run round-robin (the serde legs — round-3 verdict
    * #3), so a contention burst degrades one pass of every entry instead
    * of every pass of one. After the rounds, a `go` whose min pass ran
    * under more than [[StealRetrySec]] of steal gets up to `stealRetries`
    * extra passes. Every pass is bracketed by [[TaskClock]] and steal
    * snapshots taken after the listener bus drained, so its clocks and
    * job/stage/task counts are its own; its compile count is the
    * JVM-wide codegen compilation count over the same window.
    * `afterWarm` runs once between the warm passes and the first round;
    * `afterRound` after every round, with the passes so far. */
  private[graft] def measure(spark: SparkSession, passes: Int,
      gos: Seq[() => Unit], afterWarm: () => Unit = () => (),
      afterRound: Seq[Measured] => Unit = _ => (),
      stealRetries: Int = 0): Seq[Measured] = {
    def drain(): Unit =
      // a bus still busy after its 10 s bound leaves the stragglers to
      // the next snapshot's delta rather than failing the entry
      try org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      catch { case _: java.util.concurrent.TimeoutException => }
    def onePass(go: () => Unit): Pass = {
      val c0 = TaskClock.counts()
      val sj0 = stealJiffies()
      val k0 = compiles()
      val w = time(go())
      drain()
      val c1 = TaskClock.counts()
      val sj1 = stealJiffies()
      Pass(w, (c1.runMs - c0.runMs) / 1e3, (c1.cpuNs - c0.cpuNs) / 1e9,
        if (sj0 < 0 || sj1 < 0) -1.0 else (sj1 - sj0) / 100.0,
        c1.jobs - c0.jobs, c1.stages - c0.stages, c1.tasks - c0.tasks,
        compiles() - k0)
    }
    val warm = gos.map { go => val w = time(go()); drain(); w }
    afterWarm()
    val timed = Array.fill(gos.size)(Vector.empty[Pass])
    def measured = gos.indices.map(i => Measured(warm(i), timed(i)))
    (1 to passes).foreach { _ =>
      gos.indices.foreach(i => timed(i) :+= onePass(gos(i)))
      afterRound(measured)
    }
    gos.indices.foreach { i =>
      var retries = 0
      while (retries < stealRetries && timed(i).minBy(_.wall).steal > StealRetrySec) {
        timed(i) :+= onePass(gos(i))
        retries += 1
      }
    }
    measured
  }

  /** Classes compiled by codegen (Janino) in this JVM so far. */
  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Every cumulative counter an entry window is read against. */
  private final case class Snap(artifacts: Map[String, (Long, Long, Double, Long)],
      gcMs: Long, readBytes: Long, evicted: Long, pressure: Long,
      clock: TaskClock.Counts, steal: Long)

  private def snap(): Snap = Snap(graft.operators.PlanCache.allStats,
    gcMillis(), readBytes(), EvictionClock.snapshot()._1,
    EvictionClock.pressureSnapshot(), TaskClock.counts(), stealJiffies())

  /** The fully-instrumented measurement of one bench entry: [[measure]]
    * with steal retries, and every attribution signal captured per window
    * — artifact-cache deltas with measured build seconds (round-14
    * verdict #1), timed-window steal (round-14 ADVICE), per-pass task
    * clocks and steal, pressure evictions net of explicit unpersists,
    * probes, GC, block-layer reads — and the mechanical `cause_class`.
    * Shared by phase 2 and the codec sweep so every entry in the
    * artifact self-labels. */
  private def timeEntry(spark: SparkSession, passes: Int)(
      go: () => Unit): (Timing, EntryStats) = {
    val (memStart, diskStart) = storageBytes(spark)
    val loadStart = load1()
    val start = snap()
    val probeStart = probeMs()
    // round-14 ADVICE: the steal window compared against timed-pass
    // inflation starts AFTER the warm pass — warm-pass steal used to
    // satisfy the ≥25% threshold and mislabel timed inflation "steal"
    var warmed = start
    var probeMid = -1.0
    val m = measure(spark, passes, Seq(go),
      afterWarm = () => { warmed = snap(); probeMid = probeMs() },
      stealRetries = MaxStealRetries).head
    val end = snap()
    val probeEnd = probeMs()
    val loadEnd = load1()
    val timing = m.timing
    val artsWarm = artifactDelta(start.artifacts, warmed.artifacts)
    val artsTimed = artifactDelta(warmed.artifacts, end.artifacts)
    def stealSec(from: Snap): Double =
      if (from.steal < 0 || end.steal < 0) -1.0 else (end.steal - from.steal) / 100.0
    val stealTimedSec = stealSec(warmed)
    val pressureTimed = end.pressure - warmed.pressure
    val st = EntryStats(memStart, diskStart,
      (warmed.gcMs - start.gcMs) / 1000.0, (end.gcMs - warmed.gcMs) / 1000.0,
      loadStart, loadEnd, stealSec(start),
      probeStart, probeMid, probeEnd,
      ioDelta(start.readBytes, warmed.readBytes), ioDelta(warmed.readBytes, end.readBytes),
      (warmed.clock.runMs - start.clock.runMs) / 1e3,
      (end.clock.runMs - warmed.clock.runMs) / 1e3,
      (warmed.clock.cpuNs - start.clock.cpuNs) / 1e9,
      (end.clock.cpuNs - warmed.clock.cpuNs) / 1e9,
      m.passes, warmed.evicted - start.evicted, end.evicted - warmed.evicted,
      causeClass(timing.timed, m.passes.map(_.taskRun), m.passes.map(_.taskCpu),
        stealTimedSec, probeMid, probeEnd, probeBaselineMs,
        pressureTimed, artsTimed.map(_.buildSec).sum),
      artifactsWarm = artsWarm, artifactsTimed = artsTimed,
      stealTimedSec = stealTimedSec, pressureEvictedTimed = pressureTimed,
      retryPasses = m.passes.size - passes)
    (timing, st)
  }

  /** Round-14 verdict #1: a run-wide hit flag cannot land a shared
    * artifact's rebuild on the entry that paid for it (q220's min grew
    * 41%, 320→451 task-s, and q53's 5× with no code change to either,
    * and both classified "clean"). The PlanCache registry snapshot
    * carries (hits, misses, cumulative build seconds) for EVERY
    * registered cache, and the per-entry deltas below become
    * `{built, hit, build_sec}` rows in the bench detail. */
  private[graft] final case class ArtifactDelta(
      name: String, built: Long, hit: Long, buildSec: Double,
      published: Long = 0L)

  /** Per-cache activity between two registry snapshots; caches that
    * first registered inside the window read against zero. Only caches
    * with any activity (a hit, a build, or a stored publish) appear —
    * steady state reads as hits, a rebuild carries its measured build
    * seconds, and a producer-rule entry marks the artifact it
    * published (whose job cost ran inside this entry's own passes). */
  private[graft] def artifactDelta(
      before: Map[String, (Long, Long, Double, Long)],
      after: Map[String, (Long, Long, Double, Long)]): Seq[ArtifactDelta] =
    after.toSeq.flatMap { case (k, (h, m, b, p)) =>
      val (h0, m0, b0, p0) = before.getOrElse(k, (0L, 0L, 0.0, 0L))
      if (m - m0 > 0 || h - h0 > 0 || p - p0 > 0)
        Some(ArtifactDelta(k, m - m0, h - h0, math.max(b - b0, 0.0), p - p0))
      else None
    }.sortBy(_.name)

  /** Per-entry telemetry captured around the warm and timed passes:
    * which artifact caches missed (by name, warm vs timed split), GC
    * time attributable to the passes, the persisted-storage bytes at
    * entry start, and — round-9 verdict #1b — the BOX's view of the
    * same window: 1-min loadavg at entry start/end and the CPU steal
    * seconds accumulated across the entry (this box shows non-zero
    * steal — it is a VM on a shared host, so a co-tenant burst during
    * the driver window is a real, measurable slowdown source). With
    * these, a regressed entry is attributable from the artifact alone:
    * clean gc + clean misses + load/steal spike → environment.
    *
    * Round-11 verdict #2 additions — the r11 driver run had entries
    * at sustained 4-13× with CLEAN load1/steal/gc/misses, so two
    * probes the earlier fields cannot see:
    *  - `probeStartMs`/`probeMidMs`/`probeEndMs`: wall time of a
    *    FIXED single-thread busy loop run immediately before the warm
    *    pass, between warm and timed, and after the last timed pass.
    *    The instruction count is constant, so probe inflation vs the
    *    run's `probe_baseline_ms` is direct evidence of CPU
    *    starvation the loadavg missed (cgroup quota throttling,
    *    memory-bandwidth saturation, invisible co-tenant); the mid
    *    probe splits the attribution between the warm and timed
    *    windows.
    *  - `readWarmBytes`/`readTimedBytes`: /proc/self/io read_bytes
    *    deltas across the warm and timed passes — bytes this process
    *    pulled from the BLOCK LAYER (page-cache hits don't count), so
    *    a cold-cache entry re-reading parquet from disk shows a spike
    *    here while probes stay clean.
    *
    * Round-12 verdict #2 additions — the r12 driver run still had
    * entries at 5-8× with CLEAN single-thread probes (q196/q195
    * class): a one-thread probe cannot see 32-way co-scheduling or
    * memory-bandwidth starvation. The missing signal is the
    * EXECUTORS' own clock, summed per entry from a task-end listener:
    *  - `taskRunWarmSec`/`taskRunTimedSec`: Σ executorRunTime (wall
    *    each task spent running) across the warm / timed windows.
    *  - `taskCpuWarmSec`/`taskCpuTimedSec`: Σ executorCpuTime (actual
    *    CPU the tasks burned) across the same windows.
    *    The pair classifies the last attribution class from the
    *    artifact alone: timed wall inflated with task CPU inflated
    *    proportionally → real work (cache rebuild, plan change);
    *    task RUN inflated but task CPU flat → tasks sat descheduled
    *    (32-way co-scheduling / bandwidth starvation — invisible to
    *    the single-thread probe); both flat with wall inflated →
    *    driver-side or scheduler gap.
    * `passes` carries each timed pass's clocks, steal and job/stage/task
    * counts; `batchMs` a streaming entry's micro-batch phase split. */
  private final case class EntryStats(
      memStartBytes: Long,
      diskStartBytes: Long,
      gcWarmSec: Double,
      gcTimedSec: Double,
      load1Start: Double,
      load1End: Double,
      stealSec: Double,
      probeStartMs: Double,
      probeMidMs: Double,
      probeEndMs: Double,
      readWarmBytes: Long,
      readTimedBytes: Long,
      taskRunWarmSec: Double,
      taskRunTimedSec: Double,
      taskCpuWarmSec: Double,
      taskCpuTimedSec: Double,
      passes: Seq[Pass],
      evictedWarm: Long,
      evictedTimed: Long,
      causeClass: String,
      // round-14 verdict #1: per-entry artifact-cache activity
      // (built/hit counts + measured build seconds) split by window
      artifactsWarm: Seq[ArtifactDelta] = Seq.empty,
      artifactsTimed: Seq[ArtifactDelta] = Seq.empty,
      // round-14 ADVICE: steal scoped to the TIMED window only (the
      // all-window stealSec above stays for continuity), and evictions
      // net of explicit unpersists (pressure drops only)
      stealTimedSec: Double = -1.0,
      pressureEvictedTimed: Long = 0L,
      // round-14 verdict #7: extra passes run because the min pass saw
      // hypervisor steal above the retry threshold
      retryPasses: Int = 0,
      batchMs: Seq[(String, Long)] = Seq.empty)

  /** Round-13 verdict #1/#2: apply the PERF.md §9 attribution table
    * MECHANICALLY per entry, so an inflated entry self-labels in the
    * artifact alone (the r13 loop still required a human to cross-read
    * five detail fields). An entry is "inflated" when its median
    * exceeds 1.5× its own min by more than 0.2 s absolute (the min is
    * the least-contended pass — the box can only make a pass slower).
    * Priority order, most-external cause first:
    *  - evicted        — persisted RDD blocks dropped UNDER MEMORY
    *                     PRESSURE during the timed window (explicit
    *                     unpersists are excluded — round-14 ADVICE: ops
    *                     that deterministically unpersist scratch
    *                     frames per pass would otherwise always
    *                     self-label "evicted")
    *  - rebuild        — a PlanCache artifact rebuilt inside the timed
    *                     window and its MEASURED build seconds cover
    *                     ≥25% of the inflation (round-14 verdict #1:
    *                     the direct per-entry attribution the run-wide
    *                     hit flags could not give)
    *  - steal          — hypervisor steal DURING THE TIMED WINDOW
    *                     covers ≥25% of the inflation (round-14 ADVICE:
    *                     warm-pass steal no longer counts)
    *  - starved        — the fixed-work 1-thread probe ran ≥2× its
    *                     run baseline (cgroup/co-tenant CPU shortage)
    *  - real-work      — worst pass burned ≥1.5× the best pass's task
    *                     CPU: the work itself grew (plan change, cache
    *                     rebuild below the named-counter granularity)
    *  - descheduled    — task RUN grew ≥1.5× with CPU flat: tasks sat
    *                     runnable (32-way co-scheduling / bandwidth)
    *  - driver-gap     — wall inflated, executors idle: scheduler or
    *                     driver-side gap
    * Entries below the threshold are "clean"; entries with no timed
    * passes are "none". */
  private[graft] def causeClass(timed: Seq[Double], taskRun: Seq[Double],
      taskCpu: Seq[Double], stealSec: Double, probeMidMs: Double,
      probeEndMs: Double, probeBaseMs: Double, evictedTimed: Long,
      rebuildSecTimed: Double = 0.0): String = {
    if (timed.isEmpty) return "none"
    val mn = timed.min
    val med = Timing(0.0, timed).median
    if (med < mn * 1.5 || med - mn < 0.2) return "clean"
    val inflation = timed.sum - timed.size * mn
    if (evictedTimed > 0) return "evicted"
    if (rebuildSecTimed > 0.1 && rebuildSecTimed >= 0.25 * inflation)
      return "rebuild"
    if (stealSec > 0 && stealSec >= 0.25 * inflation) return "steal"
    if (probeBaseMs > 0 &&
      math.max(probeMidMs, probeEndMs) >= 2.0 * probeBaseMs) return "starved"
    // per-pass executor clocks: worst wall pass vs best wall pass
    if (taskRun.size == timed.size && taskCpu.size == timed.size) {
      val best = timed.indices.minBy(timed(_))
      val worst = timed.indices.maxBy(timed(_))
      val cpuRatio = taskCpu(worst) / math.max(taskCpu(best), 0.01)
      val runRatio = taskRun(worst) / math.max(taskRun(best), 0.01)
      if (cpuRatio >= 1.5) return "real-work"
      if (runRatio >= 1.5 && cpuRatio < 1.25) return "descheduled"
    }
    "driver-gap"
  }

  /** Cumulative executor task clocks (run wall ms, CPU ns) and counts of
    * the jobs, stages and tasks run, fed by a listener registered once
    * per measuring session. Every counter is cumulative and monotone, so
    * a window's delta is exact once the listener bus has drained
    * ([[measure]] drains after every pass). */
  private[graft] object TaskClock
      extends org.apache.spark.scheduler.SparkListener {
    val runMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0L)
    private val jobs = new java.util.concurrent.atomic.AtomicLong(0L)
    private val stages = new java.util.concurrent.atomic.AtomicLong(0L)
    private val tasks = new java.util.concurrent.atomic.AtomicLong(0L)
    /** Stage id → the job whose start event declared it (round-15
      * ADVICE: by the exact `stageIds` of `SparkListenerJobStart`, not
      * "the job that started last", which concurrent jobs such as q168's
      * parallel legs misattribute). A stage counts once, when it
      * completes; the stages a job skipped are dropped at its end. */
    private val stageJob =
      new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Integer]()
    override def onJobStart(
        js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      js.stageIds.foreach(stageJob.put(_, Int.box(js.jobId)))
    }
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      if (stageJob.remove(sc.stageInfo.stageId) != null) stages.incrementAndGet()
    override def onJobEnd(
        je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
      stageJob.values.removeIf(_.intValue == je.jobId)
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = te.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
      }
    }
    def snapshot(): (Long, Long) = (runMs.get(), cpuNs.get())
    final case class Counts(runMs: Long, cpuNs: Long, jobs: Long,
        stages: Long, tasks: Long)
    def counts(): Counts =
      Counts(runMs.get(), cpuNs.get(), jobs.get(), stages.get(), tasks.get())
    /** Idempotent registration (round-13 ADVICE: a second bare
      * addSparkListener in the same JVM — e.g. a spec re-running the
      * bench path — would double-count every task's run/CPU time).
      * Remove-then-add guarantees exactly one delivery per context;
      * a stale registration on a stopped context is inert. */
    def register(sc: org.apache.spark.SparkContext): Unit = {
      sc.removeSparkListener(this)
      sc.addSparkListener(this)
    }
  }

  /** Cumulative count of persisted RDD blocks DROPPED from storage
    * (round-13 verdict #7: `persisted_mem_bytes` alone cannot
    * distinguish "artifact evicted and rebuilt" from "CPU starved" —
    * q55's driver-run CPU tripled while cool runs held). A block
    * update whose new storage level is invalid IS the eviction/removal
    * event on the listener bus (both memory-pressure drops and
    * explicit unpersists land here; the separate unpersist counter
    * splits the two — evictions = dropped − unpersisted). Same
    * monotone-cumulative discipline as [[TaskClock]]. */
  private[graft] object EvictionClock
      extends org.apache.spark.scheduler.SparkListener {
    val droppedBlocks = new java.util.concurrent.atomic.AtomicLong(0L)
    val unpersistedRdds = new java.util.concurrent.atomic.AtomicLong(0L)
    /** Drops NOT attributable to an explicit unpersist — the round-14
      * ADVICE split: `onUnpersistRDD` records the RDD id (ids are
      * monotone per context, never reused), and a block drop whose RDD
      * was explicitly unpersisted counts as housekeeping, not memory
      * pressure. Only PRESSURE drops feed the "evicted" cause class —
      * ops that deterministically unpersist scratch frames per timed
      * pass (q227's tightSym, PlanCache turnover) no longer self-label
      * their inflation "evicted". The unpersist event posts on the bus
      * before the async block removals it triggers, so the id is in
      * the set by the time its drops arrive. */
    val pressureDroppedBlocks = new java.util.concurrent.atomic.AtomicLong(0L)
    private val unpersistedIds =
      java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    override def onBlockUpdated(
        bu: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit = {
      val info = bu.blockUpdatedInfo
      if (info.blockId.isRDD && !info.storageLevel.isValid) {
        droppedBlocks.incrementAndGet()
        val rddId = info.blockId.asRDDId.map(_.rddId).getOrElse(-1)
        if (!unpersistedIds.contains(rddId))
          pressureDroppedBlocks.incrementAndGet()
      }
    }
    override def onUnpersistRDD(
        u: org.apache.spark.scheduler.SparkListenerUnpersistRDD): Unit = {
      unpersistedRdds.incrementAndGet()
      unpersistedIds.add(u.rddId)
    }
    def snapshot(): (Long, Long) = (droppedBlocks.get(), unpersistedRdds.get())
    def pressureSnapshot(): Long = pressureDroppedBlocks.get()
    def register(sc: org.apache.spark.SparkContext): Unit = {
      sc.removeSparkListener(this)
      sc.addSparkListener(this)
    }
  }

  /** Iteration count for the calibration probe: xorshift64 steps —
    * ~10 ms single-thread on this box's CPU when unthrottled, cheap
    * enough to run twice per entry (~5 s across a 244-entry run). */
  private val ProbeIters = 8000000L
  // the probe result escapes through a volatile so the JIT cannot
  // elide the loop
  @volatile private var probeSink = 0L

  /** Wall milliseconds for [[ProbeIters]] xorshift64 steps on one
    * thread — the fixed-work CPU availability probe. */
  private[graft] def probeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0L
    while (i < ProbeIters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    probeSink = x
    (System.nanoTime() - t0) / 1e6
  }

  /** Cumulative bytes this process has read from the block layer
    * (/proc/self/io read_bytes — page-cache hits excluded); −1 where
    * unreadable (non-Linux, restricted /proc). */
  private def readBytes(): Long =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/self/io"))
      .linesIterator.find(_.startsWith("read_bytes:"))
      .map(_.substring("read_bytes:".length).trim.toLong).getOrElse(-1L)
    catch { case _: Exception => -1L }

  private def ioDelta(start: Long, end: Long): Long =
    if (start < 0 || end < 0) -1L else end - start

  /** Run-level probe baseline (median of 7 idle probes at startup);
    * set once by main before the phases, read by flush. */
  @volatile private var probeBaselineMs: Double = -1.0

  /** 1-minute load average from /proc/loadavg (−1 where unreadable,
    * e.g. non-Linux). */
  private def load1(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Cumulative CPU-steal jiffies from /proc/stat (field 8 of the
    * aggregate cpu line); −1 where unreadable. Deltas across an entry
    * convert to seconds at the USER_HZ=100 Linux default. */
  private def stealJiffies(): Long =
    try {
      // Files.readString, not Source.fromFile: this runs twice per
      // bench pass and an unclosed Source leaks a file handle each
      // call (~480 fds across a 241-entry run, in a harness where fd
      // exhaustion has been observed — round-10 ADVICE).
      val cpu = java.nio.file.Files
        .readString(java.nio.file.Paths.get("/proc/stat"))
        .linesIterator.find(_.startsWith("cpu ")).getOrElse("")
      val f = cpu.trim.split("\\s+")
      if (f.length > 8) f(8).toLong else -1L
    } catch { case _: Exception => -1L }

  /** Storage-layer observability for the bench tail (round-6 verdict
    * #1: the suite now persists many artifacts across the whole run —
    * pair graphs, signatures, codebooks, exact top-k — and regressions
    * in UNRELATED map-only entries pointed at cache memory pressure;
    * measure it, don't guess). Persisted bytes via the RDD storage
    * listing; GC time via the JVM's collector beans. */
  @annotation.nowarn("cat=deprecation")
  private def storageBytes(s: SparkSession): (Long, Long) = {
    val infos = s.sparkContext.getRDDStorageInfo
    (infos.map(_.memSize).sum, infos.map(_.diskSize).sum)
  }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }

  /** The last query execution the session finished: in entry-list mode,
    * read after an entry's passes (which drain the listener bus), it is
    * the plan its last timed pass actually ran, AQE re-plans included. */
  private final class LastPlan extends QueryExecutionListener {
    @volatile var last: Option[QueryExecution] = None
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      last = Some(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    def executedPlan: String = last.fold("(no plan recorded)")(_.executedPlan.toString)
  }

  /** What one bench run reports against: its session, fixture dir, core
    * count, pass counts, serde message count and artifact path. */
  private final case class Ctx(spark: SparkSession, sfDir: String, cpus: Int,
      passes: Int, serdePasses: Int, serdeMsgs: Long, out: java.nio.file.Path)

  def main(args: Array[String]): Unit = {
    // an entry list resolves before the session starts: a typo fails here
    val only = args.headOption.map(a => SparkEntry.select(a.split(",").toSeq))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = GraftSession.envPositive("SPARK_GRAFT_BENCH_PASSES", 3)
    val spark = session("graft-bench")
    run(spark, sfDir, passes, only, benchOutPath)
    spark.stop()
  }

  /** One bench run on `spark`. Without an entry list (`only` empty) it is
    * the full run: serde, codec sweep, every `SparkEntry.defs` entry and
    * the recheck sentinels. With one, only those entries, each
    * followed on stdout by its executed plan. Both write the same
    * artifact to `out` and end stdout with the same lines. */
  private[graft] def run(spark: SparkSession, sfDir: String, passes: Int,
      only: Option[Seq[QueryDef]], out: java.nio.file.Path): Unit = {
    val conf = EngineConf(totalMensagens = 100000, tamanhoMensagemKB = 1,
      warmupMensagens = 0, seed = 42)
    val ctx = Ctx(spark, sfDir, GraftSession.defaultCores, passes,
      math.max(passes, 5), conf.totalMensagens, out)
    val results = scala.collection.mutable.LinkedHashMap[String, Timing]()
    val stats = scala.collection.mutable.LinkedHashMap[String, EntryStats]()
    def flushPartial(): Unit = flush(ctx, results, stats, partial = true)

    // JVM/codegen warm-up (not reported)
    if (only.isEmpty) noop(Generator.messages(spark, conf.copy(totalMensagens = 5000)))

    // calibration-probe baseline: median of 7 after 3 JIT warm-ups,
    // taken while the session is otherwise idle — every per-entry
    // probe_start_ms/probe_end_ms reads against this number
    (1 to 3).foreach(_ => probeMs())
    probeBaselineMs = {
      val ps = (1 to 7).map(_ => probeMs()).sorted
      ps(ps.size / 2)
    }

    if (only.isEmpty) {
      // ---- phase 1: serde, the reference's README workload shape.
      // The exact CLI pipelines (produce = generate+serialize+write,
      // consume = read+[parse]+metrics). The warm pass covers JIT,
      // codegen cache and page cache for each mode's files — round 1
      // timed each mode once, cold, in a fixed order, and the ordering
      // artifacts were visible (json TRANSPORTE measured slower than
      // json E2E_PARSE, impossible in steady state).
      val tmp = graft.operators.PlanCache.tempDir("graft_bench_")
      val e2e = conf.copy(benchMode = "E2E_PARSE")
      val transp = conf.copy(benchMode = "TRANSPORTE")
      val serdeRuns: Seq[(String, () => Unit)] = Seq(
        "produce_avro" -> (() => Main.produce(spark, conf, tmp, avro = true).collect()),
        "produce_json" -> (() => Main.produce(spark, conf, tmp, avro = false).collect()),
        "consume_avro_e2e" -> (() => Main.consume(spark, e2e, tmp, avro = true).collect()),
        "consume_json_e2e" -> (() => Main.consume(spark, e2e, tmp, avro = false).collect()),
        "consume_avro_transporte" -> (() => Main.consume(spark, transp, tmp, avro = true).collect()),
        "consume_json_transporte" -> (() => Main.consume(spark, transp, tmp, avro = false).collect()))
      // serde phase hardening (round-3 verdict #3: these are the
      // headline reference-parity numbers and showed 3× pass spreads
      // under box contention): ≥5 timed passes each — they are
      // seconds-cheap — INTERLEAVED round-robin across the six entries.
      // Round-14 verdict #2: the legs carry the same per-pass
      // task-clock/steal telemetry and `cause_class` as the query
      // entries; probes run once per round-robin CYCLE (a per-timing
      // probe would add ~10 ms to every sub-second pass), and a run
      // killed mid-phase still leaves a parseable partial with every
      // completed cycle (round-4 ADVICE).
      val names = serdeRuns.map(_._1)
      val loadStart = load1()
      var probeMid = -1.0
      var probeMax = -1.0
      val serde = measure(spark, ctx.serdePasses, serdeRuns.map(_._2),
        afterWarm = () => { probeMid = probeMs(); probeMax = probeMid },
        afterRound = ms => {
          probeMax = math.max(probeMax, probeMs())
          names.zip(ms).foreach { case (n, m) => results(n) = m.timing }
          flushPartial()
        })
      val loadEnd = load1()
      names.zip(serde).foreach { case (name, m) =>
        val steals = m.passes.map(_.steal).filter(_ >= 0)
        val stealSum = if (steals.isEmpty) -1.0 else steals.sum
        val run = m.passes.map(_.taskRun)
        val cpu = m.passes.map(_.taskCpu)
        stats(name) = EntryStats(0L, 0L, -1.0, -1.0, loadStart, loadEnd, stealSum,
          -1.0, probeMid, probeMax, -1L, -1L, -1.0, run.sum, -1.0, cpu.sum,
          m.passes, 0L, 0L,
          causeClass(m.timing.timed, run, cpu, stealSum,
            probeMid, probeMax, probeBaselineMs, 0L),
          stealTimedSec = stealSum)
      }

      // ---- phase 1b: compression sweep (reference
      // ConfiguracaoKafka.java:112-118 — producer compression.type is a
      // first-class benchmark variable there; here it maps onto the
      // file codec exactly as Main.produce does). The default (lz4)
      // rides in the serde entries above; each other codec writes its
      // own dir so its consume entry reads files written with it. Avro
      // produce + E2E consume per codec, 3 timed passes each — the
      // entries are sub-second and the axis wants the ORDERING across
      // codecs, not tail precision.
      Seq("none", "snappy", "gzip", "zstd").foreach { codec =>
        val cconf = conf.copy(compressionType = codec)
        val cdir = graft.operators.PlanCache.tempDir(s"graft_bench_${codec}_")
        try {
          val (pT, pS) = timeEntry(spark, 3)(
            () => Main.produce(spark, cconf, cdir, avro = true).collect())
          results(s"produce_avro_$codec") = pT
          stats(s"produce_avro_$codec") = pS
          val (cT, cS) = timeEntry(spark, 3)(
            () => Main.consume(spark, cconf.copy(benchMode = "E2E_PARSE"),
              cdir, avro = true).collect())
          results(s"consume_avro_e2e_$codec") = cT
          stats(s"consume_avro_e2e_$codec") = cS
        } catch {
          // a codec missing from the runtime (e.g. no native lib) skips
          // its entries rather than killing the run
          case e: Throwable =>
            System.err.println(s"[bench] codec $codec failed: ${e.getMessage}")
        }
        flushPartial()
      }
    }

    // ---- phase 2: the queries at the SF dir, in declared order
    val plans = only.map { _ =>
      val l = new LastPlan
      spark.listenerManager.register(l)
      l
    }
    only.getOrElse(SparkEntry.defs).foreach { d =>
      // per-query isolation: one failure must not lose the run
      try {
        val (t, st) = timeEntry(spark, passes)(() => noop(d.run(spark, sfDir)))
        results(d.name) = t
        stats(d.name) = st.copy(batchMs = StreamOps.lastBatchMs(d.name))
        plans.foreach { p =>
          println(s"==== ${d.name} executed plan (last timed pass) ====")
          println(p.executedPlan)
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] ${d.name} failed: ${e.getMessage}")
          results(d.name) = Timing(-1.0, Seq.empty)
      }
      // flush after EVERY entry: a killed/timed-out run still
      // leaves a parseable partial artifact at the well-known path
      flushPartial()
    }
    plans.foreach(spark.listenerManager.unregister)

    // ---- recheck phase (round-9 verdict #1: six entries regressed
    // ≥2× on unchanged code with clean gc/miss telemetry; hypothesis
    // (a) was cumulative session state across the 200-entry run).
    // Re-time the regression sentinels at the END of the run, in the
    // same JVM, with everything accumulated: if the recheck min ≈ the
    // mid-run min, cumulative state is exonerated and a mid-run spike
    // was the box; if recheck ≫ mid-run, state accumulation is real
    // and the artifact says so directly. Round 10 added two heavies;
    // round 12 added sq18 — the suite's most expensive and most
    // steal-sensitive entry, whose end-of-run retime separates a
    // mid-run steal burst from real cost.
    val recheck = scala.collection.mutable.LinkedHashMap[String, Timing]()
    if (only.isEmpty) Seq("q45_media_meta", "q47_ann_recall", "q51_salted_join",
      "q88_containment", "q89_ivfpq_recall", "sq7_sessionize_timeout",
      "q193_neighbor_jaccard", "q202_source_sketch_jaccard",
      "sq18_stream_join_chain").foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        try recheck(name) =
          measure(spark, passes, Seq(() => noop(fn(spark, sfDir)))).head.timing
        catch { case e: Throwable =>
          System.err.println(s"[bench] recheck $name failed: ${e.getMessage}")
        }
      }
    }
    val (compactLine, _) = flush(ctx, results, stats, partial = false, recheck = recheck)
    // stdout carries the COMPACT line only: the full line (detail,
    // mins) grew past what the driver's log scrape windows (BENCH_r04
    // captured only the tail of a ~6 KB line → parsed: null); the
    // complete JSON always lands in bench_out.json — written
    // atomically (round-7 verdict #2), path announced on stderr
    println(compactLine)
    // round-9 verdict #3: the driver's tail-capture parsed null twice
    // (r7, r9). A second, PREFIXED copy of the canonical compact line
    // gives any log scraper an unambiguous anchor to grep for, even
    // when sbt decorates the lines around it.
    println(s"BENCH_JSON: $compactLine")
    // round-10 verdict #2: the compact line above is still ~7 KB (241
    // query medians) and the driver's tail capture truncates its FRONT
    // — BENCH_r{8,9,10}.json all parsed null. Emit a ≤1 KB summary
    // (entry count, total, slowest-10) as the LAST stdout lines, once
    // prefixed for grep anchoring and once bare, so any tail window
    // ends with one complete parseable record.
    val summary = summaryLine(results, conf.totalMensagens, sfDir, ctx.cpus,
      out.toAbsolutePath.toString)
    println(s"BENCH_SUMMARY: $summary")
    println(summary)
    System.err.println(s"[bench] full artifact: ${out.toAbsolutePath}")
  }

  /** The ≤1 KB tail summary: entry count, total, the ten slowest
    * entries by MIN. Its SIZE is the contract — the driver's tail capture
    * truncates long lines from the FRONT, so the last stdout record
    * must fit any scrape window whole (spec-pinned: bounded length,
    * parseable, top-10 sorted descending). */
  private[graft] def summaryLine(results: collection.Map[String, Timing],
      serdeMsgs: Long, sfDir: String, cpus: Int,
      artifactPath: String = benchOutPath.toAbsolutePath.toString): String = {
    // round-13 verdict #1: the summary (and headline) carry the
    // per-entry MIN — the least-contended observation, steal-robust —
    // not the median a contended box turns into false regressions
    // (BENCH_r13 recorded q92 at 4.95 s vs a true 0.53 s min under
    // 8.2 s of hypervisor steal). Medians stay in the full detail.
    val mins = results.map { case (k, t) => k -> t.min }
      .filter(_._2 >= 0)
    val top10 = mins.toSeq.sortBy(-_._2).take(10)
      .map { case (k, v) => s""""$k":${jnum(v, 3)}""" }
      .mkString("{", ",", "}")
    val msgsAvro = results.get("consume_avro_e2e").map(_.min)
      .filter(_ > 0).map(serdeMsgs / _).getOrElse(0.0)
    val core =
      s"""{"metric":"total","value":${jnum(mins.values.sum, 3)},"unit":"sec",""" +
        s""""n":${mins.size},"queries":$top10,"sf":${Json.str(sfDir)},"cpus":$cpus,""" +
        s""""avro_e2e_msgs_per_sec":${jnum(msgsAvro, 1)}"""
    // the 1 KB size IS the contract (front-truncating tail capture);
    // the artifact path is a convenience also printed on stderr — drop
    // it rather than let a long SPARK_GRAFT_BENCH_OUT path push the
    // guaranteed-to-fit last line past the budget (round-11 ADVICE)
    val withPath = core + s""","full_artifact":${Json.str(artifactPath)}}"""
    if (withPath.length <= 1024) withPath else core + "}"
  }

  /** Canonical full-artifact path (SPARK_GRAFT_BENCH_OUT if set, else
    * ./bench_out.json; see README "Benchmark output"). */
  private def benchOutPath: java.nio.file.Path =
    java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"))

  /** Build the bench JSON from the results so far and write it to
    * `ctx.out` (sbt decorates stdout with [info]/[error] prefixes, so
    * consumers read the file). `partial` marks in-progress snapshots.
    * Returns (compact headline line for stdout, full line written to the
    * file). */
  private def flush(ctx: Ctx, results: collection.Map[String, Timing],
      stats: collection.Map[String, EntryStats], partial: Boolean,
      recheck: collection.Map[String, Timing] = Map.empty): (String, String) = {
    def num(v: Double, places: Int): String = jnum(v, places)
    def nums(vs: Seq[Double], places: Int): String =
      vs.map(num(_, places)).mkString("[", ",", "]")
    // round-14 verdict #1: per-entry artifact rows — a rebuilt shared
    // artifact lands (with its measured build seconds) on the entry
    // whose window paid for it; empty windows are omitted so the
    // steady state reads clean
    def artJson(field: String, ds: Seq[ArtifactDelta]): String =
      if (ds.isEmpty) ""
      else s""","$field":""" + ds.map(d =>
        s"""{"artifact":"${d.name}","built":${d.built},"hit":${d.hit},""" +
          s""""build_sec":${num(d.buildSec, 3)}""" +
          (if (d.published == 0) "" else s""","published":${d.published}""") +
          "}").mkString("[", ",", "]")
    // round-13 verdict #1: headline `queries`/`value` are MIN-based
    // (steal-robust); the median moves to `queries_median` + per-entry
    // detail so a round-over-round diff reads steady-state cost, not
    // the box's contention during the driver window
    val mins = results.map { case (k, t) => k -> t.min }
    val medians = results.map { case (k, t) => k -> t.median }
    val total = mins.values.filter(_ >= 0).sum
    val totalMedian = medians.values.filter(_ >= 0).sum
    val msgsPerSecAvro = mins.get("consume_avro_e2e")
      .filter(_ > 0).map(ctx.serdeMsgs / _).getOrElse(0.0)
    val qs = mins.map { case (k, v) => s""""$k":${num(v, 3)}""" }
      .mkString("{", ",", "}")
    val detail = results.map { case (k, t) =>
      // per-entry telemetry (round-7 verdict #1/#4): GC seconds spent
      // during the warm and timed passes, persisted storage at entry
      // start, per-pass clocks, job/stage/task counts and codegen
      // compiles, and the artifact rows of both windows
      val extra = stats.get(k).map { st =>
        s""","gc_warm_sec":${num(st.gcWarmSec, 3)}""" +
          s""","gc_timed_sec":${num(st.gcTimedSec, 3)}""" +
          s""","mem_start":${st.memStartBytes},"disk_start":${st.diskStartBytes}""" +
          s""","load1_start":${num(st.load1Start, 2)}""" +
          s""","load1_end":${num(st.load1End, 2)}""" +
          s""","steal_sec":${num(st.stealSec, 2)}""" +
          s""","probe_start_ms":${num(st.probeStartMs, 2)}""" +
          s""","probe_mid_ms":${num(st.probeMidMs, 2)}""" +
          s""","probe_end_ms":${num(st.probeEndMs, 2)}""" +
          s""","read_warm_bytes":${st.readWarmBytes}""" +
          s""","read_timed_bytes":${st.readTimedBytes}""" +
          s""","task_run_warm_sec":${num(st.taskRunWarmSec, 3)}""" +
          s""","task_run_timed_sec":${num(st.taskRunTimedSec, 3)}""" +
          s""","task_cpu_warm_sec":${num(st.taskCpuWarmSec, 3)}""" +
          s""","task_cpu_timed_sec":${num(st.taskCpuTimedSec, 3)}""" +
          s""","task_run_passes":${nums(st.passes.map(_.taskRun), 3)}""" +
          s""","task_cpu_passes":${nums(st.passes.map(_.taskCpu), 3)}""" +
          s""","jobs":${st.passes.map(_.jobs).mkString("[", ",", "]")}""" +
          s""","stages":${st.passes.map(_.stages).mkString("[", ",", "]")}""" +
          s""","tasks":${st.passes.map(_.tasks).mkString("[", ",", "]")}""" +
          s""","compiles":${st.passes.map(_.compiles).mkString("[", ",", "]")}""" +
          s""","evicted_warm":${st.evictedWarm}""" +
          s""","evicted_timed":${st.evictedTimed}""" +
          s""","pressure_evicted_timed":${st.pressureEvictedTimed}""" +
          s""","steal_timed_sec":${num(st.stealTimedSec, 2)}""" +
          s""","steal_passes":${nums(st.passes.map(_.steal), 2)}""" +
          (if (st.retryPasses == 0) "" else
            s""","retry_passes":${st.retryPasses}""") +
          s""","cause_class":"${st.causeClass}"""" +
          artJson("artifacts_warm", st.artifactsWarm) +
          artJson("artifacts_timed", st.artifactsTimed) +
          (if (st.batchMs.isEmpty) "" else
            s""","batch_ms":""" + st.batchMs.map { case (phase, ms) =>
              s""""$phase":$ms""" }.mkString("{", ",", "}"))
      }.getOrElse("")
      s""""$k":{"warm":${num(t.warm, 3)},"min":${num(t.min, 3)},""" +
        s""""median":${num(t.median, 3)},"timed":${nums(t.timed, 3)}$extra}"""
    }.mkString("{", ",", "}")
    // the contended-window view: medians per entry (the r13-and-prior
    // headline), kept for round-over-round continuity
    val qmedians = medians.map { case (k, v) => s""""$k":${num(v, 3)}""" }
      .mkString("{", ",", "}")
    val (persistedMem, persistedDisk) = storageBytes(ctx.spark)
    // run-level hit flags: true iff no entry's TIMED window rebuilt the
    // named artifact (warm passes are expected to build each once per
    // session and dir); artifact_cache_hit covers every other cache
    val timedBuilds =
      stats.values.flatMap(_.artifactsTimed).filter(_.built > 0).map(_.name).toSet
    // end-of-run sentinel retimes (empty until the recheck phase runs;
    // small, so it rides in BOTH the compact and full lines): per
    // sentinel `[min, mid_run_min]` — ratio ≈ 1 exonerates cumulative
    // session state, ratio ≫ 1 indicts it
    val recheckJson =
      if (recheck.isEmpty) ""
      else recheck.map { case (k, t) =>
        val mid = results.get(k).map(_.min).getOrElse(-1.0)
        s""""$k":[${num(t.min, 3)},${num(mid, 3)}]"""
      }.mkString(""""recheck":{""", ",", "},")
    val tailFields = recheckJson +
      // timed_passes describes phase-2 query entries; the serde
      // entries run math.max(passes,5) interleaved passes and carry
      // their own count (round-4 ADVICE: one global count
      // misdescribed the serde detail arrays)
      s""""timed_passes":${ctx.passes},"serde_timed_passes":${ctx.serdePasses},""" +
        s""""label_cache_hit":${!timedBuilds("cluster_labels")},""" +
        s""""artifact_cache_hit":${(timedBuilds - "cluster_labels").isEmpty},""" +
        s""""partial":$partial,""" +
        s""""persisted_mem_bytes":$persistedMem,""" +
        s""""persisted_disk_bytes":$persistedDisk,""" +
        s""""probe_baseline_ms":${num(probeBaselineMs, 2)},""" +
        s""""gc_time_sec":${num(gcMillis() / 1000.0, 1)},""" +
        s""""total_median":${num(totalMedian, 3)},""" +
        s""""evicted_blocks_total":${EvictionClock.snapshot()._1},""" +
        s""""pressure_evicted_total":${EvictionClock.pressureSnapshot()},""" +
        s""""unpersisted_rdds_total":${EvictionClock.snapshot()._2},""" +
        s""""sf":${Json.str(ctx.sfDir)},"cpus":${ctx.cpus},"serde_msgs":${ctx.serdeMsgs},""" +
        s""""avro_e2e_msgs_per_sec":${num(msgsPerSecAvro, 1)}}"""
    val headline =
      s"""{"metric":"total","value":${num(total, 3)},"unit":"sec","queries":$qs,""" +
        tailFields
    val full =
      s"""{"metric":"total","value":${num(total, 3)},"unit":"sec","queries":$qs,""" +
        s""""queries_median":$qmedians,"detail":$detail,""" + tailFields
    // atomic publish (round-7 verdict #2: a reader racing the write —
    // or a kill mid-write — must see either the previous complete
    // artifact or the new one, never a truncated file): temp file in
    // the target directory, then rename
    val outPath = ctx.out.toAbsolutePath
    try {
      val tmpFile = java.nio.file.Files.createTempFile(
        outPath.getParent, ".bench_out_", ".tmp")
      java.nio.file.Files.writeString(tmpFile, full + "\n")
      java.nio.file.Files.move(tmpFile, outPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    catch { case e: Exception => System.err.println(s"[bench] write $outPath: $e") }
    (headline, full)
  }
}
