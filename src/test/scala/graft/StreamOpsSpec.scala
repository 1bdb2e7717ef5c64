package graft

import graft.queries.Queries
import graft.sources.Tables
import graft.streaming.StreamOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Streaming/batch equivalence and consumer-loop parity (SURVEY.md
  * O10-O12, SQ1). */
class StreamOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("stream-test", cores = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("SQ1 streaming result equals batch tumbling aggregation") {
    val streamed = StreamOps.sq1StreamTumbling(spark, dir).collect()
    val batch = Queries.q21Tumbling(spark, dir).collect()
    assert(streamed.length == batch.length)
    assert(streamed.sameElements(batch))
  }

  test("SQ1 append mode withholds only watermark-open windows") {
    val appended = StreamOps.sq1Append(spark, dir).collect()
    val batch = Queries.q21Tumbling(spark, dir).collect()
    // bounded input: final window(s) stay open under the watermark
    assert(appended.length < batch.length)
    assert(appended.nonEmpty, "watermark should have closed most windows")
    val batchKeys = batch.map(r => (r.getLong(0), r.getString(1))).toSet
    assert(appended.forall(r => batchKeys.contains((r.getLong(0), r.getString(1)))))
    // every emitted row must equal its batch counterpart
    val batchByKey = batch.map(r => (r.getLong(0), r.getString(1)) -> r).toMap
    appended.foreach { r =>
      assert(batchByKey((r.getLong(0), r.getString(1))) == r)
    }
  }

  test("EventTimeTimeout sessionizer equals batch q22 once a flush tick advances the watermark") {
    // the certified-twin drill: a sentinel event far past every real
    // user's gap boundary (the traffic an unbounded stream always has)
    // lets the watermark expire every real session — the timeout
    // variant must then reproduce q22 row-for-row with NO batch-side
    // recovery pass
    val streamed = StreamOps.sq7SessionizeTimeout(spark, dir).collect()
    val batch = Queries.q22Sessionize(spark, dir).collect()
    assert(streamed.length == batch.length,
      s"flush-tick timeout run must close every session: ${streamed.length} vs ${batch.length}")
    assert(streamed.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq)
  }

  test("EventTimeTimeout sessionizer withholds ONLY still-open final sessions without a flush") {
    // end-of-input mid-stream shape: users whose gap boundary the final
    // watermark has not passed stay in state — everything else emits
    val gapUs = Queries.SessionGapUs
    val streamed = StreamOps.sq6SessionizeTimeout(spark, s"$dir/events.parquet")
      .collect().map(_.toSeq).toSet
    val batch = Queries.q22Sessionize(spark, dir).collect()
    val batchSet = batch.map(_.toSeq).toSet
    assert(streamed.subsetOf(batchSet), "every emitted session must be a q22 session")
    val lastSid = batch.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).max)
    val maxUs = Tables.events(spark, dir)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    val withheld = batch.filter(r => !streamed.contains(r.toSeq))
    assert(withheld.nonEmpty, "the fixture's stream-end sessions cannot all have expired")
    withheld.foreach { r =>
      val (uid, sid) = (r.getLong(0), r.getLong(1))
      assert(sid == lastSid(uid),
        s"withheld session ($uid, $sid) is not the user's final session")
      val lastUs = r.getLong(3) + r.getLong(4) // inicio_us + duracao_us
      // ms-floored timeout arm must sit at/after the final watermark
      // (1 ms slack for the flooring on both sides)
      assert(lastUs / 1000 + gapUs / 1000 + 1 >= maxUs / 1000,
        s"withheld session ($uid, $sid) should have timed out: last=$lastUs max=$maxUs")
    }
  }

  test("checkpoint recovery: restart resumes state, reads only new files") {
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    val (src, ckpt, out) = (s"$work/src", s"$work/ckpt", s"$work/out")
    // raw events (ts as long nanos) — the same shape the stream source
    // reads with its declared schema
    val all = spark.read.parquet(s"$dir/events.parquet")
    val total = all.count()
    // half 1 arrives (append writes flat files the stream source lists)
    all.filter(col("event_id") % 2 === 0).write.mode("append").parquet(src)
    val read1 = StreamOps.sq1Incremental(spark, src, ckpt, out)
    assert(read1 == all.filter(col("event_id") % 2 === 0).count())
    // half 2 arrives, restarted run must read ONLY it and still
    // produce the full aggregate from restored state
    all.filter(col("event_id") % 2 === 1).write.mode("append").parquet(src)
    val read2 = StreamOps.sq1Incremental(spark, src, ckpt, out)
    assert(read2 == total - read1, s"restart re-read data: $read2")
    val recovered = spark.read.parquet(out).orderBy("janela_ms", "event_type").collect()
    val batch = Queries.q21Tumbling(spark, dir).collect()
    assert(recovered.sameElements(batch),
      "post-recovery aggregate must equal the batch result")
  }

  test("SQ4 sliding-window streaming equals batch; every event in two windows") {
    val streamed = StreamOps.sq4StreamSliding(spark, dir).collect()
    val batchEvents = Tables.events(spark, dir)
    val batch = StreamOps.sq4Plan(batchEvents).orderBy("janela_ms", "event_type").collect()
    assert(streamed.sameElements(batch), "streaming sliding window must equal batch")
    // 1 h windows every 30 min: each event lands in exactly 2 windows
    val totalN = streamed.map(_.getAs[Long]("n")).sum
    val nEvents = spark.read.parquet(s"$dir/events.parquet").count()
    assert(totalN == 2 * nEvents, s"expected 2x$nEvents rows across windows, got $totalN")
  }

  test("SQ5 stream-static enrichment equals the batch join+aggregate") {
    import org.apache.spark.sql.functions._
    val streamed = StreamOps.sq5StreamEnrich(spark, dir).collect()
    val cust = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .join(cust, col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("soma_valor"))
      .orderBy("c_mktsegment", "event_type").collect()
    assert(streamed.sameElements(batch), "stream-static join must equal batch")
  }

  test("SQ9 streamed admission gate equals q92's exact axis; positive path fires") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val histA = (0 until 30).map(i => s"w$i").mkString(" ")
    def row(id: Long, t: String) = Row(id, t, "en", "src0", t.length.toLong)
    val crafted = graft.operators.PlanCache.tempDir("graft_sq9_")
    spark.createDataFrame(List(
      row(1L, histA), row(2L, "other history content entirely"),
      row(5L, histA),                        // exact copy of history → flags
      row(10L, "fresh content nothing like history")
    ).asJava, docSchema).write.parquet(s"$crafted/documents.parquet")
    val streamed = StreamOps.sq9StreamIncrDedup(spark, crafted).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("exact_dup")).toMap
    assert(streamed == Map(5L -> true, 10L -> false),
      s"in-flight probe must flag the history copy only: $streamed")
    // certified-twin discipline: the stream equals q92's exact column
    val batch = graft.llmops.TextOps.q92IncrementalDedup(spark, crafted).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("exact_dup")).toMap
    assert(streamed == batch, "sq9 must equal the batch probe per doc")
    // fixture run: stateless left join, emitted set must equal batch
    val fix = StreamOps.sq9StreamIncrDedup(spark, dir).collect()
    val fixBatch = graft.llmops.TextOps.q92IncrementalDedup(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("exact_dup")))
    assert(fix.map(r => (r.getLong(0), r.getBoolean(1))).sameElements(fixBatch))
  }

  test("SQ3 stream-stream interval join equals the batch interval join") {
    val streamed = StreamOps.sq3StreamJoin(spark, dir).collect()
    val ev = Tables.events(spark, dir)
    val a = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
    val b = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("u2"), col("ts").as("pts"))
    val batch = a.join(b, col("user_id") === col("u2") &&
        col("pts") >= col("cts") && col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("pts")) - unix_micros(col("cts"))).as("delta_us"))
      .orderBy("click_id", "purchase_id").collect()
    assert(batch.nonEmpty, "fixture must contain click->purchase pairs")
    assert(streamed.sameElements(batch))
    // the run must have recorded its peak join-state rows for the
    // scale sweep (round-11 verdict #4): both sides buffer at least
    // the qualifying events, so the peak is positive and no larger
    // than the full stream (state is horizon-bounded, never the
    // whole input retained past eviction)
    val peak = StreamOps.lastStatePeak("sq3_stream_join")
    assert(peak.exists(_ > 0L), s"state peak must be recorded: $peak")
    assert(peak.exists(_ <= ev.count() * 2),
      s"state peak must stay input-bounded: $peak")
  }

  test("SQ8 streamed HLL++ sketch equals the batch sketch bit-for-bit; bounds hold") {
    // register max-merge across micro-batches is exact, so the
    // streamed estimate must EQUAL the batch one, not just approximate
    // the same truth — the strongest streaming/batch equivalence a
    // sketch admits
    val streamed = StreamOps.sq8Streamed(spark, dir)
      .orderBy("janela_ms").collect()
    val batch = Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").getField("start").as("janela"))
      .agg(count(lit(1)).as("n"),
        approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
      .select(unix_millis(col("janela")).as("janela_ms"), col("n"), col("approx_users"))
      .orderBy("janela_ms").collect()
    assert(streamed.nonEmpty)
    assert(streamed.sameElements(batch))
    val cert = StreamOps.sq8StreamSketch(spark, dir).collect()
    assert(cert.forall(_.getAs[Boolean]("users_within_bounds")),
      "1%-rsd HLL++ must sit inside the 5% certification bound")
  }

  test("transformWithState recovery: RocksDB state survives a restart") {
    val work = java.nio.file.Files.createTempDirectory("graft_twsr_").toString
    val (src, ckpt, out) = (s"$work/src", s"$work/ckpt", s"$work/out")
    val all = spark.read.parquet(s"$dir/events.parquet")
    val total = all.count()
    // split by TIME (the profile's cross-batch contract: later batches
    // carry later events — the same property the file source gives a
    // time-ordered log); event_id-parity would replay the past
    val norm = graft.sources.TsBridge.normalize(all)
    val mid = norm.agg(expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY unix_micros(ts))"))
      .head().getDouble(0).toLong
    val firstIds = norm.filter(unix_micros(col("ts")) <= mid)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val half1 = all.filter(col("event_id").isInCollection(firstIds))
    val half2 = all.filter(!col("event_id").isInCollection(firstIds))
    half1.write.mode("append").parquet(src)
    val read1 = StreamOps.sq13Incremental(spark, src, ckpt, out)
    assert(read1 == half1.count())
    half2.write.mode("append").parquet(src)
    val read2 = StreamOps.sq13Incremental(spark, src, ckpt, out)
    assert(read2 == total - read1, s"restart re-read data: $read2")
    // final profile per user (max-n across all emissions, both runs)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    val got = spark.read.parquet(out)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("user_id", "n_events", "n_sessions", "first_ms", "last_ms")
      .orderBy("user_id").collect().map(_.toSeq)
    val gap = Queries.SessionGapUs
    val wu = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us", "event_id")
    val want = norm
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("pus", lag("us", 1).over(wu))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("pus").isNull || col("us") - col("pus") > gap, 1L)
          .otherwise(0L)).as("n_sessions"),
        expr("min(us) div 1000").as("first_ms"),
        expr("max(us) div 1000").as("last_ms"))
      .orderBy("user_id").collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq,
      "post-recovery profiles must equal the batch profile over the full input")
  }

  test("streaming metrics with idle-stop match batch counters") {
    import graft.model.SchemaDef
    val fixture = graft.sources.GenFixtures.MessagesPath
    val batch = spark.read.parquet(fixture)
    val expected = StreamOps.streamingMetrics(batch).collect().head
    val got = StreamOps.consumeWithIdleStop(spark, fixture, SchemaDef.envelopeType)
      .collect().head
    assert(got == expected)
  }

  test("sq22 reads the signature artifact through the caller's session: a rerun hits minhash_sigs") {
    val sigs = graft.llmops.TextOps.sigCache
    val first = StreamOps.sq22StreamNeardupGate(spark, dir).collect().toSeq
    val (hits, misses) = (sigs.hits, sigs.misses)
    val second = StreamOps.sq22StreamNeardupGate(spark, dir).collect().toSeq
    assert(sigs.misses == misses, "the second run rebuilt the signature table")
    assert(sigs.hits > hits, "the second run did not read the signature table")
    assert(first.nonEmpty && second == first)
  }

  test("two sq2 runs over one documents file leave one staging dir") {
    val d = graft.operators.PlanCache.tempDir("graft_stage_")
    val docs = java.nio.file.Paths.get(s"$d/documents.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/documents.parquet"), docs)
    def staged(): Seq[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
      val ls = java.nio.file.Files.list(tmp)
      try ls.iterator.asScala.toSeq.filter { p =>
        p.getFileName.toString.startsWith("graft_stream_") && {
          val link = p.resolve(docs.getFileName)
          java.nio.file.Files.isSymbolicLink(link) &&
          java.nio.file.Files.readSymbolicLink(link) == docs
        }
      } finally ls.close()
    }
    val first = StreamOps.sq2StreamDedup(spark, d).collect().toSeq
    val second = StreamOps.sq2StreamDedup(spark, d).collect().toSeq
    assert(first.nonEmpty && second == first)
    assert(staged().size == 1, s"staging dirs: ${staged()}")
  }

  test("SPARK_GRAFT_STATESTORE / SPARK_GRAFT_ROCKSDB_CHANGELOG: unset means the default " +
    "store and no changelog; an unknown value fails fast") {
    assert(!StreamOps.parseStateStore(None))
    assert(StreamOps.parseStateStore(Some(" RocksDB ")))
    assert(!StreamOps.parseRocksdbChangelog(None))
    Seq("true", "1", "TRUE").foreach(v => assert(StreamOps.parseRocksdbChangelog(Some(v)), v))
    Seq("false", "0").foreach(v => assert(!StreamOps.parseRocksdbChangelog(Some(v)), v))
    def failsNaming(name: String, v: String)(parse: Option[String] => Boolean): Unit = {
      val e = intercept[IllegalArgumentException](parse(Some(v)))
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$v'"), e.getMessage)
    }
    Seq("hdfs", "rocks", "").foreach(v =>
      failsNaming("SPARK_GRAFT_STATESTORE", v)(StreamOps.parseStateStore))
    Seq("yes", "on", "2", "").foreach(v =>
      failsNaming("SPARK_GRAFT_ROCKSDB_CHANGELOG", v)(StreamOps.parseRocksdbChangelog))
  }
}
