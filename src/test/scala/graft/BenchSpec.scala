package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** The measurement module — `Bench`'s core loop, clocks, cause
  * classifier and its inputs, artifact and summary line, entry
  * selection and pass-count parsing — on one shared session built the
  * way the measuring mains build theirs. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = Bench.session("bench-spec")
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  // ------------------------------------------------ summary and probe

  test("bench summary line: bounded size, parseable, slowest-10 — at full surface scale") {
    // the driver's tail capture truncates long lines from the FRONT
    // (BENCH_r8-r10 all parsed null); the LAST stdout record must fit
    // any scrape window whole even at 300+ entries with long names
    val results = scala.collection.mutable.LinkedHashMap(
      (1 to 300).map(i =>
        f"q${i}%03d_some_quite_long_operator_name_$i" ->
          Bench.Timing(1.0, Seq(i / 100.0, i / 99.0, i / 101.0))): _*)
    results("consume_avro_e2e") = Bench.Timing(0.4, Seq(0.326, 0.33, 0.32))
    val line = Bench.summaryLine(results, 100000, "/root/testdata/sf0.1", 32)
    assert(line.length <= 1024, s"summary must stay under 1 KB: ${line.length}")
    assert(!line.contains("\n"))
    // structurally valid JSON with the contract fields (no JSON lib on
    // the classpath — assert the shape directly)
    assert(line.startsWith("""{"metric":"total","value":"""))
    assert(line.endsWith("}") && line.contains(""""n":301"""))
    assert(line.contains(""""queries":{"""))
    assert(line.contains(""""avro_e2e_msgs_per_sec":"""))
    // the ten slowest by MIN (round-13 verdict #1: the headline is
    // the steal-robust min, not the contention-prone median), descending
    val qs = """"(q\d+_[a-z_0-9]+)":""".r.findAllMatchIn(
      line.substring(line.indexOf("\"queries\":"))).map(_.group(1)).toSeq
    assert(qs.size == 10)
    assert(qs.head == "q300_some_quite_long_operator_name_300")
    val mins = qs.map(n => results(n).min)
    assert(mins == mins.sorted.reverse, "top-10 must be descending")
    // the summary's total is the sum of entry MINs
    val v = """"value":([0-9.]+)""".r.findFirstMatchIn(line).get.group(1).toDouble
    val expected = results.values.map(_.min).filter(_ >= 0).sum
    assert(math.abs(v - expected) < 0.01, s"value must be min-based: $v vs $expected")
    // a pathological SPARK_GRAFT_BENCH_OUT path must not break the
    // 1 KB contract: the path is dropped, the line stays parseable
    val longPath = "/tmp/" + ("x" * 1500) + "/bench_out.json"
    val clipped = Bench.summaryLine(results, 100000, "/root/testdata/sf0.1",
      32, artifactPath = longPath)
    assert(clipped.length <= 1024, s"long-path summary overflows: ${clipped.length}")
    assert(!clipped.contains("full_artifact"))
    assert(clipped.endsWith("}") && clipped.contains(""""n":301"""))
  }

  test("a dir holding a quote or a backslash stays one JSON string: the " +
    "bench summary line and a scale skip row parse and return the exact path") {
    val dir = "/tmp/odd \"rung\" C:\\sf0.1\tx"
    val json = new ObjectMapper()
    val results = scala.collection.mutable.LinkedHashMap(
      "q11_revenue_nation" -> Bench.Timing(1.0, Seq(0.5)))
    val line = json.readTree(Bench.summaryLine(results, 0, dir, 4,
      artifactPath = s"$dir/bench_out.json"))
    assert(line.get("sf").asText == dir)
    assert(line.get("full_artifact").asText == s"$dir/bench_out.json")
    val row = json.readTree(Scale.skipRow("sq18_stream_join_chain", dir, "a \"why\""))
    assert(row.get("dir").asText == dir && row.get("reason").asText == "a \"why\"")
    assert(row.get("skipped").asBoolean)
  }

  test("bench calibration probe: fixed work, sane wall time, not elided") {
    // JIT warm-up, then the probe must land in a plausible band — wide
    // enough for any box, tight enough to catch an elided loop (<0.1ms)
    // or a broken iteration count (>10s)
    (1 to 3).foreach(_ => Bench.probeMs())
    val ms = (1 to 3).map(_ => Bench.probeMs())
    assert(ms.forall(m => m > 0.1 && m < 10000.0), s"probe out of band: $ms")
  }

  // ------------------------------------------------- bench task clock

  test("bench task clock: executor run/CPU clocks accumulate across a job " +
    "(round-12 verdict #2 — the attribution signal a 1-thread probe lacks)") {
    // register() is remove-then-add: re-registering the singleton in
    // the same JVM (this spec after a bench run) cannot double-count
    Bench.TaskClock.register(spark.sparkContext)
    val (r0, c0) = Bench.TaskClock.snapshot()
    // enough per-task work that executorRunTime rounds above 0 ms
    spark.range(0L, 20000000L, 1L, 8)
      .selectExpr("sum(id % 1000)").collect()
    // the listener bus delivers asynchronously — poll to the deadline
    val deadline = System.currentTimeMillis() + 15000
    var snap = Bench.TaskClock.snapshot()
    while ((snap._1 <= r0 || snap._2 <= c0) &&
        System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      snap = Bench.TaskClock.snapshot()
    }
    assert(snap._1 > r0, "executor run-time must accumulate task wall")
    assert(snap._2 > c0, "executor CPU-time must accumulate task CPU")
  }

  // ------------------------------------------- selection and passes

  test("SparkEntry.select: declared order, blanks trimmed; unknown names " +
    "all fail in one message") {
    val got = SparkEntry.select(Seq(" sq1_stream_tumbling", "q11_revenue_nation", ""))
    assert(got.map(_.name) == Seq("q11_revenue_nation", "sq1_stream_tumbling"),
      "selection follows SparkEntry.defs order, not argument order")
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Seq("q11_revenue_nation", "q11_typo", "nope")))
    assert(e.getMessage.contains("q11_typo") && e.getMessage.contains("nope"))
    assert(!e.getMessage.contains("q11_revenue_nation"))
    intercept[IllegalArgumentException](SparkEntry.select(Seq(" ", "")))
  }

  test("SPARK_GRAFT_BENCH_PASSES / SPARK_GRAFT_SWEEP_PASSES: unset means " +
    "the default; below 1 or non-numeric fails fast") {
    Seq("SPARK_GRAFT_BENCH_PASSES" -> 3, "SPARK_GRAFT_SWEEP_PASSES" -> 2).foreach {
      case (name, default) =>
        assert(GraftSession.parsePositive(name, None, default) == default)
        assert(GraftSession.parsePositive(name, Some(" 5 "), default) == 5)
        Seq("0", "-2", "x", "").foreach { v =>
          val e = intercept[IllegalArgumentException](
            GraftSession.parsePositive(name, Some(v), default))
          assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$v'"))
        }
    }
  }

  // ---------------------------------------------------- the core loop

  test("measure: per-pass jobs/stages/tasks are exact on a plan with known " +
    "counts, with two jobs running concurrently in every pass") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val sc = spark.sparkContext
    // one job = a 4-task shuffle-map stage + a 3-task result stage
    def job(): Unit = {
      sc.parallelize(1 to 1000, 4).map(x => (x % 7, x)).reduceByKey(_ + _, 3).collect()
      ()
    }
    val go = () => {
      Await.result(Future.sequence(Seq(Future(job()), Future(job()))), 60.seconds)
      ()
    }
    val m = Bench.measure(spark, 2, Seq(go)).head
    assert(m.passes.size == 2)
    m.passes.foreach { p =>
      assert((p.jobs, p.stages, p.tasks) == ((2L, 4L, 14L)), s"pass counts: $p")
      assert(p.wall > 0 && p.taskRun >= 0 && p.taskCpu >= 0)
    }
  }

  test("measure: neither a batch entry's nor sq2's timed passes compile a class, " +
    "forked session included") {
    def compiles(name: String): Seq[Long] = {
      val q = SparkEntry.queries(name)
      Bench.measure(spark, 2, Seq(() => Bench.noop(q(spark, dir)))).head.passes.map(_.compiles)
    }
    assert(compiles("q30_textstats") == Seq(0L, 0L))
    assert(compiles("sq2_stream_dedup") == Seq(0L, 0L))
  }

  // ------------------------------------------------- entry-list mode

  /** One entry-list bench run at sf0.001 (one timed pass, plus any steal
    * retries): the artifact it wrote and its stdout lines. */
  private lazy val entryListRun: (JsonNode, Seq[String]) = {
    val out = java.nio.file.Files.createTempFile("bench_spec_", ".json")
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Bench.run(spark, dir, 1,
        Some(SparkEntry.select(Seq("sq1_stream_tumbling", "q11_revenue_nation"))), out)
    }
    val json = new ObjectMapper().readTree(java.nio.file.Files.readString(out))
    java.nio.file.Files.delete(out)
    (json, buf.toString("UTF-8").linesIterator.toSeq)
  }

  test("entry-list mode: the artifact holds exactly the named entries, with " +
    "per-pass jobs/stages/tasks, and stdout ends with the summary lines") {
    val (json, lines) = entryListRun
    assert(json.get("queries").fieldNames.asScala.toSeq ==
      Seq("q11_revenue_nation", "sq1_stream_tumbling"))
    assert(!json.get("partial").asBoolean)
    assert(!json.has("recheck"), "entry-list mode runs no recheck phase")
    val q11 = json.get("detail").get("q11_revenue_nation")
    // one timed pass, plus any steal-retry passes
    val passes = q11.get("timed").size
    assert(passes >= 1)
    Seq("jobs", "stages", "tasks").foreach(f => assert(q11.get(f).size == passes, f))
    assert(q11.get("jobs").get(0).asLong >= 1 && q11.get("tasks").get(0).asLong >= 1)
    assert(lines.exists(_.startsWith("==== q11_revenue_nation executed plan")),
      "each entry prints the plan its last timed pass ran")
    assert(lines.exists(_.startsWith("BENCH_JSON: {\"metric\":\"total\"")))
    assert(lines(lines.size - 2).startsWith("BENCH_SUMMARY: ") &&
      lines.last.startsWith("{\"metric\":\"total\"") && lines.last.contains("\"n\":2"))
  }

  test("entry-list mode: a streaming entry carries its micro-batch phase " +
    "split as batch_ms; a batch entry carries none") {
    val detail = entryListRun._1.get("detail")
    val bm = detail.get("sq1_stream_tumbling").get("batch_ms")
    assert(bm != null, "sq entries carry batch_ms")
    assert(bm.fieldNames.asScala.toSeq == graft.streaming.StreamOps.BatchPhases)
    assert(bm.get("triggerExecution").asLong > 0 &&
      bm.get("addBatch").asLong <= bm.get("triggerExecution").asLong)
    assert(!detail.get("q11_revenue_nation").has("batch_ms"))
  }

  test("entry-list mode: every entry carries per-pass codegen compiles") {
    val detail = entryListRun._1.get("detail")
    Seq("q11_revenue_nation", "sq1_stream_tumbling").foreach { e =>
      val d = detail.get(e)
      assert(d.get("compiles").size == d.get("timed").size, e)
      assert(d.get("compiles").elements.asScala.forall(_.asLong >= 0), e)
    }
  }

  // -------------------------------------------- bench cause classes

  private val base = Seq(1.0, 1.0, 1.0)

  test("bench cause classifier: below the 1.5x-and-0.2s threshold is clean; " +
    "no passes is none") {
    assert(Bench.causeClass(Seq(1.0, 1.2, 1.4), Seq(1.0, 1.0, 1.0), Seq(1.0, 1.0, 1.0),
      0.0, 10.0, 10.0, 10.0, 0) == "clean")
    // ratio over 1.5 but absolute inflation under 0.2s: still clean
    assert(Bench.causeClass(Seq(0.1, 0.25, 0.25), Seq(1.0, 1.0, 1.0), Seq(1.0, 1.0, 1.0),
      99.0, 99.0, 99.0, 10.0, 9) == "clean")
    assert(Bench.causeClass(Seq.empty, Seq.empty, Seq.empty, 0.0, 0.0, 0.0, 10.0, 0) == "none")
  }

  test("bench cause classifier: priority order — evicted, steal, starved, " +
    "then the task-clock classes") {
    val inflated = Seq(1.0, 3.0, 3.0) // min 1.0, median 3.0, inflation 4.0
    // evictions during the timed window win over everything
    assert(Bench.causeClass(inflated, base, base, 9.0, 99.0, 99.0, 10.0, 2) == "evicted")
    // steal >= 25% of inflation
    assert(Bench.causeClass(inflated, base, base, 1.5, 10.0, 10.0, 10.0, 0) == "steal")
    // probe at >= 2x its run baseline
    assert(Bench.causeClass(inflated, base, base, 0.0, 25.0, 10.0, 10.0, 0) == "starved")
    // worst pass burned 1.5x the best pass's task CPU -> real work
    assert(Bench.causeClass(inflated, Seq(1.0, 4.0, 4.0), Seq(1.0, 2.0, 2.0),
      0.0, 10.0, 10.0, 10.0, 0) == "real-work")
    // task RUN grew with CPU flat -> tasks sat descheduled
    assert(Bench.causeClass(inflated, Seq(1.0, 4.0, 4.0), Seq(1.0, 1.1, 1.1),
      0.0, 10.0, 10.0, 10.0, 0) == "descheduled")
    // wall inflated, executors idle -> driver-side gap
    assert(Bench.causeClass(inflated, base, base,
      0.0, 10.0, 10.0, 10.0, 0) == "driver-gap")
  }

  test("bench cause classifier: missing telemetry degrades to driver-gap, " +
    "not a crash (steal=-1 sentinel, zero probe baseline, short arrays)") {
    val inflated = Seq(1.0, 3.0, 3.0)
    assert(Bench.causeClass(inflated, Seq.empty, Seq.empty,
      -1.0, 10.0, 10.0, 0.0, 0) == "driver-gap")
  }

  private val rebuildInflated = Seq(1.0, 4.0, 4.0)

  test("causeClass: a measured artifact rebuild covering the inflation " +
    "labels 'rebuild' and outranks steal/starved") {
    assert(Bench.causeClass(rebuildInflated, base, base, 9.0, 99.0, 99.0, 10.0, 0,
      rebuildSecTimed = 3.0) == "rebuild")
  }

  test("causeClass: pressure evictions still outrank rebuild; zero " +
    "pressure (explicit unpersists only) falls through to rebuild") {
    assert(Bench.causeClass(rebuildInflated, base, base, 9.0, 99.0, 99.0, 10.0, 2,
      rebuildSecTimed = 3.0) == "evicted")
    assert(Bench.causeClass(rebuildInflated, base, base, 0.0, 10.0, 10.0, 10.0, 0,
      rebuildSecTimed = 3.0) == "rebuild")
  }

  test("causeClass: a sub-0.1s rebuild cannot claim a multi-second " +
    "inflation (falls through to the next cause)") {
    assert(Bench.causeClass(rebuildInflated, base, base, 9.0, 10.0, 10.0, 10.0, 0,
      rebuildSecTimed = 0.05) == "steal")
  }

  // ------------------------------------- eviction clock and artifacts

  test("bench eviction clock: registration is remove-then-add idempotent " +
    "and unpersist events accumulate") {
    Bench.EvictionClock.register(spark.sparkContext)
    Bench.EvictionClock.register(spark.sparkContext) // second register: no double-count
    val (_, u0) = Bench.EvictionClock.snapshot()
    val df = spark.range(1000).toDF("x").persist()
    df.count()
    df.unpersist(blocking = true)
    val deadline = System.currentTimeMillis() + 15000
    var snap = Bench.EvictionClock.snapshot()
    while (snap._2 <= u0 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50); snap = Bench.EvictionClock.snapshot()
    }
    assert(snap._2 == u0 + 1,
      s"one unpersist must count exactly once (got ${snap._2 - u0})")
  }

  test("EvictionClock: block drops of an explicitly-unpersisted RDD " +
    "count as dropped but NOT as pressure; drops of other RDDs do " +
    "(round-14 ADVICE — driven by synthetic listener events, since " +
    "local-mode removeRdd posts no BlockUpdated)") {
    import org.apache.spark.scheduler.SparkListenerUnpersistRDD
    def dropEvt(rddId: Int) = org.apache.spark.graft.TestEventBridge.rddDrop(rddId)
    val d0 = Bench.EvictionClock.snapshot()._1
    val p0 = Bench.EvictionClock.pressureSnapshot()
    // RDD 990042 is explicitly unpersisted FIRST (the bus order the
    // scaladoc relies on), then its block drops arrive: housekeeping
    Bench.EvictionClock.onUnpersistRDD(SparkListenerUnpersistRDD(990042))
    Bench.EvictionClock.onBlockUpdated(dropEvt(990042))
    assert(Bench.EvictionClock.snapshot()._1 == d0 + 1,
      "an unpersist-attributable drop still counts as dropped")
    assert(Bench.EvictionClock.pressureSnapshot() == p0,
      "an explicitly-unpersisted RDD's drops must not count as pressure")
    // RDD 990043 was never unpersisted: its drop IS memory pressure
    Bench.EvictionClock.onBlockUpdated(dropEvt(990043))
    assert(Bench.EvictionClock.snapshot()._1 == d0 + 2)
    assert(Bench.EvictionClock.pressureSnapshot() == p0 + 1,
      "a pressure drop must count")
  }

  test("Bench.artifactDelta: only active caches appear; caches first " +
    "registered inside the window read against zero") {
    val before = Map("a" -> ((2L, 1L, 0.5, 0L)), "idle" -> ((7L, 3L, 1.0, 2L)),
      "pub" -> ((0L, 0L, 0.0, 1L)))
    val after = Map("a" -> ((4L, 2L, 0.9, 0L)), "idle" -> ((7L, 3L, 1.0, 2L)),
      "born" -> ((0L, 1L, 0.3, 0L)), "pub" -> ((0L, 0L, 0.0, 2L)))
    val ds = Bench.artifactDelta(before, after)
    assert(ds.map(_.name) == Seq("a", "born", "pub"))
    val a = ds.find(_.name == "a").get
    assert(a.built == 1 && a.hit == 2 && math.abs(a.buildSec - 0.4) < 1e-9)
    val born = ds.find(_.name == "born").get
    assert(born.built == 1 && born.hit == 0 && born.buildSec == 0.3)
    assert(ds.find(_.name == "pub").get.published == 1,
      "a producer-rule publish must mark the entry that stored it")
  }
}
