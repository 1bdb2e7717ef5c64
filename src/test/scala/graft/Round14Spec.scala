package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Engine-side invariants for the round-14 batch: the sq23 DECIMAL
  * overflow boundary measured at the declared envelope (round-13
  * ADVICE #4 — the tested fixture stopped at 60 rows/window while the
  * envelope sat near 100). */
class Round14Spec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("round14-test", cores = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  // ------------------------------------------------- sq23 envelope

  /** One closed hourly window holding `n` rows of value 1e15 (s2 term
    * = 1e30 each), plus hour-4 sentinel rows that advance the
    * watermark past the window without touching its cell. */
  private def hugeWindowFixture(n: Int): String = {
    val tmp = java.nio.file.Files.createTempDirectory(s"sq23edge$n").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val hour0 = (0 until n).map { i =>
      (i.toLong, new java.sql.Timestamp(base.getTime + i * 1000L),
        (i % 5).toLong, "huge", 1e15, "{}")
    }
    val closers = (0 until 3).map { i =>
      (10000L + i, new java.sql.Timestamp(base.getTime + 4L * 3600000L + i * 1000L),
        0L, "huge", 1.0, "{}")
    }
    spark.createDataFrame(hour0 ++ closers)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/events.parquet")
    tmp
  }

  test("sq23: the declared DECIMAL(38,6) envelope boundary is exactly " +
    "100 same-window rows at |v|=1e15 — 99 pass with the exact sum") {
    val out = graft.streaming.StreamOps
      .sq23StreamAnomaly(spark, hugeWindowFixture(99)).collect()
    val w0 = out.filter(_.getAs[Long]("n") == 99L)
    assert(w0.length == 1, s"the 99-row hour-0 window must close and emit: ${out.toSeq}")
    // mean = Σv/n = 1e15 exactly (99 × 1e15 is exact in DECIMAL(38,6))
    assert(w0.head.getAs[Double]("mean_v") == 1e15)
  }

  test("sq23: at 100 same-window rows the s2 sum reaches 1e32 and ANSI " +
    "fails LOUDLY (no silently-wrapped sum) — the measured boundary") {
    val e = intercept[Exception] {
      graft.streaming.StreamOps
        .sq23StreamAnomaly(spark, hugeWindowFixture(100)).collect()
    }
    // walk the cause chain: streaming wraps the executor's ANSI
    // ArithmeticException in a StreamingQueryException
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .take(10).map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    val lc = msgs.toLowerCase
    assert(Seq("overflow", "out of range", "cannot be represented",
        "numeric_value_out_of_range").exists(lc.contains),
      s"expected a loud ANSI decimal overflow, got: $msgs")
  }

  // ------------------- sq13 recovery under changelog checkpointing

  test("sq13 recovery drill with RocksDB changelog checkpointing: the " +
    "restart restores state from changelog replay and the final profiles " +
    "equal the batch profile (round-13 verdict #5)") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val work = java.nio.file.Files.createTempDirectory("graft_clog_").toString
    val (src, ckpt, out) = (s"$work/src", s"$work/ckpt", s"$work/out")
    val all = spark.read.parquet(s"$dir/events.parquet")
    val norm = graft.sources.TsBridge.normalize(all)
    val mid = norm.agg(expr(
      "percentile_cont(0.5) WITHIN GROUP (ORDER BY unix_micros(ts))"))
      .head().getDouble(0).toLong
    val firstIds = norm.filter(unix_micros(col("ts")) <= mid)
      .select("event_id").collect().map(_.getLong(0)).toSet
    all.filter(col("event_id").isInCollection(firstIds))
      .write.mode("append").parquet(src)
    val read1 = graft.streaming.StreamOps
      .sq13Incremental(spark, src, ckpt, out, changelog = true)
    all.filter(!col("event_id").isInCollection(firstIds))
      .write.mode("append").parquet(src)
    val t0 = System.nanoTime()
    val read2 = graft.streaming.StreamOps
      .sq13Incremental(spark, src, ckpt, out, changelog = true)
    info(f"changelog-mode restart+increment: ${(System.nanoTime - t0) / 1e9}%.1f s")
    assert(read1 + read2 == all.count(), "restart must not re-read data")
    // the checkpoint carries CHANGELOG files — the knob engaged (a
    // snapshot-only checkpoint has none)
    // try/finally with an explicit close — Files.walk holds directory
    // handles open until the stream closes (round-14 ADVICE: the
    // previous iterator-only form leaked them in the test JVM)
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
    val sawChangelog =
      try {
        val names = walk.iterator()
        var saw = false
        while (names.hasNext) {
          if (names.next().toString.endsWith(".changelog")) saw = true
        }
        saw
      } finally walk.close()
    assert(sawChangelog, "changelogCheckpointing must write .changelog files")
    // final max-n profile per user == the batch profile (the existing
    // snapshot-mode drill's equality, now under changelog replay)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    val got = spark.read.parquet(out)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("user_id", "n_events").orderBy("user_id").collect().map(_.toSeq)
    val want = norm.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("user_id").collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq,
      "post-changelog-recovery profiles must equal the batch profile")
  }

  // ------------------------------------- q227 density-gated survivors

  test("q227: a bridged chain's ends both survive (split by tight edges) " +
    "while a dense clique still collapses to one survivor") {
    val sp = spark
    import sp.implicits._
    // chain 1-2-3-4-5-6 bridged by hamming-2/3 edges (density 2/6 <
    // 0.5) with ONE tight pair (3,4); clique 10-13 fully connected
    // (density 1); 20 is an unclustered singleton
    val docsDf = Seq((1L, 100L), (2L, 200L), (3L, 100L), (4L, 100L),
      (5L, 100L), (6L, 100L), (10L, 100L), (11L, 300L), (12L, 100L),
      (13L, 100L), (20L, 50L)).toDF("doc_id", "n_chars")
    val labels = ((1L to 6L).map(d => (d, 1L, 6L)) ++
      (10L to 13L).map(d => (d, 10L, 4L)))
      .toDF("doc_id", "cluster_root", "cluster_size")
    val edges = Seq((1L, 2L, 2), (2L, 3L, 3), (3L, 4L, 1), (4L, 5L, 3),
      (5L, 6L, 2), (10L, 11L, 1), (10L, 12L, 2), (10L, 13L, 3),
      (11L, 12L, 2), (11L, 13L, 3), (12L, 13L, 2))
      .toDF("doc_a", "doc_b", "hamming")
    val out = graft.llmops.TextOps.q227Core(docsDf, labels, edges).collect()
    val kept = out.filter(_.getAs[Boolean]("kept"))
      .map(_.getAs[Long]("doc_id")).toSet
    // chain ends 1 and 6 BOTH survive; the tight pair {3,4} collapses
    // to 3 (q79 would have mass-dropped five of the six chain docs);
    // the clique keeps only its longest doc; the singleton survives
    assert(kept == Set(1L, 2L, 3L, 5L, 6L, 11L, 20L), s"got $kept")
    val split = out.filter(_.getAs[Boolean]("split"))
      .map(_.getAs[Long]("doc_id")).toSet
    assert(split == Set(1L, 2L, 3L, 4L, 5L, 6L),
      "only the sparse chain is flagged split")
    assert(out.count(r => r.getAs[Long]("cluster_root") == 10L &&
      r.getAs[Boolean]("kept")) == 1, "dense clique -> exactly one survivor")
  }

  // ------------------------------------- q232 phash near-dup audit

  test("q232: a planted hamming-2 pair is found through the band join " +
    "(pigeonhole), over-cap buckets are excluded and self-reported") {
    val sp = spark
    import sp.implicits._
    // media 1 (hash 0) and 2 (hash 3) differ in 2 bits; media 3 is the
    // all-ones hash; media 101..1201 share bands 0/2/3 value 0 with
    // media 1 (bucket size > PhashMaxBucket -> capped) but have unique
    // band-1 values, so only the (1,2) pair survives in kept buckets
    val rows = Seq((1L, 0L), (2L, 3L), (3L, -1L)) ++
      (1 to 1101).map(i => (100L + i, i.toLong << 16))
    val out = graft.llmops.MultimodalOps
      .q232Core(rows.toDF("media_id", "phash")).collect()
    val m = out.map(r => r.getAs[Long]("media_id") -> r).toMap
    assert(m(1L).getAs[Boolean]("neardup") &&
      m(1L).getAs[Int]("min_hamming") == 2 &&
      m(1L).getAs[Long]("n_band_candidates") == 1L,
      s"planted pair must surface: ${m(1L)}")
    assert(m(1L).getAs[Long]("n_capped_bands") == 3L,
      "media 1 sits in three over-cap buckets and must say so")
    assert(m(2L).getAs[Boolean]("neardup") &&
      m(2L).getAs[Long]("n_capped_bands") == 2L)
    assert(m(3L).isNullAt(m(3L).fieldIndex("min_hamming")) &&
      !m(3L).getAs[Boolean]("neardup") &&
      m(3L).getAs[Long]("n_capped_bands") == 0L,
      "an isolated hash has no candidates, null min_hamming, no flag")
    assert(m(103L).getAs[Long]("n_band_candidates") == 0L &&
      m(103L).getAs[Long]("n_capped_bands") == 3L,
      "over-cap family members lose their bucket and report the cap")
  }

  // ------------------------------------- sq24 stream distinct monitor

  test("sq24: every closed window certifies its in-stream HLL estimate " +
    "and the state peak is recorded") {
    val rows = graft.streaming.StreamOps
      .sq24StreamDistinct(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty, "closed hourly windows must emit")
    rows.foreach { r =>
      assert(r.getAs[Boolean]("users_within_bounds"),
        s"HLL free invariant must hold per cell: $r")
    }
    assert(graft.streaming.StreamOps
      .lastStatePeak("sq24_stream_distinct").isDefined)
  }

  // ------------------------------------------- q233 RFM segmentation

  test("q233: crafted 8-user fixture lands on the exact quartile diagonal " +
    "(type-1 boundaries at ranks 2/4/6, recency inverted)") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("q233rfm").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // user u: u events, last one u days after base, every value u*10 ->
    // freq 1..8, rec_days 8-u, monetary u^2*10 — all three metrics
    // distinct, so each quartile holds exactly two users
    val rows = (1 to 8).flatMap { u =>
      (1 to u).map { i =>
        val ts = if (i == u) new java.sql.Timestamp(base.getTime + u * 86400000L)
                 else new java.sql.Timestamp(base.getTime + i * 1000L)
        ((u * 100 + i).toLong, ts, u.toLong, "ev", u * 10.0, "{}")
      }
    }
    spark.createDataFrame(rows)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = graft.queries.RelOps.q233RfmSegments(spark, tmp).collect()
      .map(r => ((r.getAs[Int]("r_score"), r.getAs[Int]("f_score"),
        r.getAs[Int]("m_score")), (r.getAs[Long]("n_users"),
        r.getAs[Long]("total_mon_units")))).toMap
    assert(out.keySet == Set((1, 1, 1), (2, 2, 2), (3, 3, 3), (4, 4, 4)),
      s"distinct metrics must land on the diagonal: ${out.keySet}")
    assert(out((1, 1, 1)) == (2L, 50L))    // users 1,2: 10 + 40
    assert(out((2, 2, 2)) == (2L, 250L))   // users 3,4: 90 + 160
    assert(out((3, 3, 3)) == (2L, 610L))   // users 5,6: 250 + 360
    assert(out((4, 4, 4)) == (2L, 1130L))  // users 7,8: 490 + 640
  }

  // ------------------------------------------- q234 IVF balance

  test("q234: list sizes conserve the corpus and shares sum to 1 " +
    "(every vector indexed in exactly one cell)") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.llmops.VectorOps.q234IvfBalance(spark, dir).collect()
    val total = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(rows.map(_.getAs[Long]("n_vectors")).sum == total,
      "assignment must partition the corpus — no vector lost or doubled")
    val shareSum = rows.map(_.getAs[Double]("share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-4, s"shares must sum to 1: $shareSum")
    rows.foreach(r => assert(r.getAs[Double]("skew") > 0))
  }

  // ------------------------------------------- round-14 plan pins

  test("q228 plan: the per-source top-M rides WindowGroupLimit and the " +
    "template join-back broadcasts") {
    val plan = graft.llmops.TextOps
      .q228TemplateCoverage(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "rank<=TemplateTopM must push per-partition — a bare window sorts " +
        "every source's whole vocabulary on one reducer")
    assert(plan.contains("BroadcastHashJoin"),
      "the sources x M template frame must broadcast")
  }

  test("q230 plan: centroids and label stats broadcast; no cartesian") {
    val plan = graft.llmops.VectorOps
      .q230EmbeddingOutliers(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert("BroadcastExchange".r.findAllIn(plan).size >= 2,
      "both |labels|-row frames must broadcast back to the scan")
    assert(!plan.contains("CartesianProduct"))
  }

  // ------------------------------- q235/q236 dynamic SQL + scripting

  test("q235: EXECUTE IMMEDIATE plans exactly like the literal query — " +
    "same exchange inventory, identical rows") {
    val dir = "/root/testdata/sf0.001"
    val dyn = graft.queries.SqlSurfaceOps.q235ExecImmediate(spark, dir)
    val scoped = s"events_${graft.queries.ScopedSql.tag(dir)}"
    val lit = spark.sql(
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS soma
         |FROM $scoped WHERE value >= ${graft.queries.SqlSurfaceOps.ExecImmMinValue}
         |GROUP BY event_type ORDER BY event_type""".stripMargin)
    assert(Scale.exchangeCounts(dyn) == Scale.exchangeCounts(lit),
      "dynamic SQL must not add an exchange over the literal twin")
    assert(dyn.collect().toSeq == lit.collect().toSeq)
  }

  test("q236: the SQL script's ELSE branch fires on a sub-threshold corpus " +
    "and the caller session's scripting conf is untouched") {
    val tmp = java.nio.file.Files.createTempDirectory("q236raw").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (0 until 7).map { i =>
      (i.toLong, new java.sql.Timestamp(base.getTime + i * 1000L),
        i.toLong, s"t${i % 2}", 1.0, "{}")
    }
    spark.createDataFrame(rows)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/events.parquet")
    // scripting ships enabled by default on this Spark (4.1): the
    // op's set/restore must leave the conf EXACTLY as found either way
    val pre = spark.conf.getOption("spark.sql.scripting.enabled")
    val out = graft.queries.SqlSurfaceOps.q236SqlScript(spark, tmp).collect()
    assert(out.length == 2 && out.forall(r =>
      r.getAs[String]("mode") == "raw" && r.getAs[Long]("c") == 1L),
      s"7 events < 100 must take the ELSE branch (one marker per type): ${out.toSeq}")
    assert(spark.conf.getOption("spark.sql.scripting.enabled") == pre,
      "scripting flag must be restored to its pre-call value")
  }

  // ------------------------------------------- q237 SQL table function

  test("q237: the lateral SQL table function returns exactly the plain " +
    "rank query's rows; the plain twin keeps its group-limit pushdown") {
    val dir = "/root/testdata/sf0.001"
    val tvf = graft.queries.SqlSurfaceOps.q237SqlTableFn(spark, dir)
    val scoped = s"orders_${graft.queries.ScopedSql.tag(dir)}"
    val plain = spark.sql(
      s"""SELECT o_orderpriority, o_orderkey, o_totalprice FROM (
         |  SELECT o_orderpriority, o_orderkey, o_totalprice,
         |    row_number() OVER (PARTITION BY o_orderpriority
         |      ORDER BY o_totalprice DESC, o_orderkey) AS rk
         |  FROM $scoped) WHERE rk <= ${graft.queries.SqlSurfaceOps.TableFnTopK}
         |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin)
    assert(tvf.collect().toSeq == plain.collect().toSeq,
      "surface identity: TVF+LATERAL must equal the plain rank query")
    // the plain form is the declared hot path BECAUSE it keeps the
    // per-partition top-k pushdown (the TVF subtree currently misses
    // it — measured and declared in the scaladoc, not asserted here so
    // a future Spark closing the gap doesn't fail the suite)
    assert(plain.queryExecution.executedPlan.toString.contains("WindowGroupLimit"))
  }

  // ------------------------------------------- q238 RRF sweep

  test("q238: the production-k row is its own reference (jaccard 1.0) and " +
    "leg composition conserves the fused set at every k") {
    val rows = graft.queries.PipelineOps
      .q238RrfSweep(spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.getAs[Int]("rrf_k")).toSeq ==
      graft.queries.PipelineOps.RrfSweepKs)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_both_legs") + r.getAs[Long]("n_lex_only") +
        r.getAs[Long]("n_sem_only") == r.getAs[Long]("n_out"),
        s"every fused doc comes from at least one leg: $r")
    }
    val prodRow = rows.find(_.getAs[Int]("rrf_k") ==
      graft.queries.PipelineOps.RrfK).get
    assert(prodRow.getAs[Double]("jaccard_vs_prod") == 1.0,
      "the k=RrfK row must overlap itself completely")
  }
}
