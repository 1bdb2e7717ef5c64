package graft

import graft.queries.MiningOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Engine-side invariants for the round-13 polish batch. Cross-engine
  * value equality is the DuckDB oracle's job at the sf0.01 gate; these
  * pin what the oracle can't see: the q155 row-count gate (round-12
  * verdict #1 — the exact certification twin must not run above the
  * gate) and the bottom-k rank window's group-limit pushdown. */
class Round13Spec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("round13-test", cores = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  // ------------------------------------------------------------- q155

  test("q155: the bottom-k rank filter pushes down as WindowGroupLimit") {
    val plan = MiningOps.q155BottomkQuantile(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "the rank<=k filter must ride InferWindowGroupLimit — a bare " +
        "window would sort EVERY event per type before discarding all " +
        s"but $plan")
  }

  test("q155: the exact twin gates on row count — above the gate the plan " +
    "carries one percentile (the k-row sample), not two") {
    def percentileAggs(exactTwin: Boolean): Int = {
      val plan = MiningOps.q155Plan(spark, dir, exactTwin = exactTwin)
        .queryExecution.optimizedPlan.toString
      "percentile".r.findAllIn(plan.toLowerCase).length
    }
    val below = percentileAggs(exactTwin = true)
    val above = percentileAggs(exactTwin = false)
    assert(above < below,
      s"above-gate plan must drop the full-relation percentile ($above vs $below)")
    assert(above >= 1,
      "the bottom-k sample estimate itself rides percentile_cont over k rows")
  }

  test("q155: both branches agree on everything but the twin; the gate " +
    "routes sf0.01 below and sf0.1 above") {
    // branch agreement on the gate fixture: identical n / est_median /
    // frac_below / within_bounds; the sampler-only branch ships NULL
    // for exact_median instead of the full-relation percentile
    def byType(exactTwin: Boolean) =
      MiningOps.q155Plan(spark, dir, exactTwin = exactTwin).collect()
        .map(r => r.getAs[String]("event_type") -> r).toMap
    val withTwin = byType(exactTwin = true)
    val samplerOnly = byType(exactTwin = false)
    assert(withTwin.keySet == samplerOnly.keySet && withTwin.nonEmpty)
    withTwin.foreach { case (k, a) =>
      val b = samplerOnly(k)
      assert(a.getAs[Long]("n") == b.getAs[Long]("n"))
      assert(a.getAs[Double]("est_median") == b.getAs[Double]("est_median"))
      assert(a.getAs[Double]("frac_below") == b.getAs[Double]("frac_below"))
      assert(a.getAs[Boolean]("within_bounds") && b.getAs[Boolean]("within_bounds"))
      assert(!a.isNullAt(a.fieldIndex("exact_median")),
        "the gate branch must ship the exact median for the oracle")
      assert(b.isNullAt(b.fieldIndex("exact_median")),
        "the sampler-only branch must not compute the exact median")
    }
    // gate routing: correctness SF stays below (twin runs, oracle checks
    // it); bench SF and every ladder rung sit above (sampler-only)
    assert(spark.read.parquet("/root/testdata/sf0.01/events.parquet").count() <=
      MiningOps.BottomkExactMaxRows, "sf0.01 must route to the exact-twin branch")
    assert(spark.read.parquet("/root/testdata/sf0.1/events.parquet").count() >
      MiningOps.BottomkExactMaxRows, "sf0.1 must route to the sampler-only branch")
  }

  // ------------------------------------------------------------- q218

  test("q218: the bucket join preserves the binary kernel's recall and " +
    "answers every query at the fixture") {
    def sets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getAs[Long]("vec_id"))
        .map { case (k, rs) => k -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val exact = sets(graft.llmops.VectorOps.q40CosineTopk(spark, dir))
    val mih = sets(graft.llmops.VectorOps.q218MihTopk(spark, dir))
    val bq = sets(graft.llmops.VectorOps.q212HammingTopk(spark, dir))
    assert(mih.keySet == exact.keySet,
      "at the fixture no bucket is hot, so every query must be answered")
    def recall(got: Map[Long, Set[Long]]): Double =
      exact.map { case (q, ex) =>
        (ex intersect got.getOrElse(q, Set.empty)).size.toDouble / ex.size
      }.sum / exact.size
    val rMih = recall(mih)
    val rBq = recall(bq)
    // measured 0.461 vs q212's 0.466 at this fixture (deterministic —
    // everything is seed-free and data-fixed): the 4-bit band geometry
    // keeps near-neighbor collision probability high enough that the
    // bucket path costs ≤2 recall points vs the exact Hamming scan
    assert(rMih >= 0.4, s"bucket-path recall@5 $rMih < the family floor 0.4")
    assert(rMih >= rBq - 0.02,
      s"bucket path ($rMih) must track the exact-scan sibling ($rBq)")
    info(f"MIH recall@5 = $rMih%.3f vs q212 $rBq%.3f")
  }

  test("q218: the plan is all equi-joins — no cartesian, no nested loop " +
    "(the production-path claim vs q212's declared baseline)") {
    val plan = graft.llmops.VectorOps.q218MihTopk(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "the bucket join must replace q212's all-pairs scan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "candidate generation must ride the (band, bval) equi-key")
    assert(plan.contains("WindowGroupLimit"),
      "the per-query top-C shortlist cut must push as a group limit")
  }

  test("q218: hot buckets are excluded by the df-cap — the declared trade") {
    // a corpus where EVERY band bucket is hot (>MihMaxBucket identical
    // codes): candidate generation goes dark by design — the all-hot
    // class is exact-dup territory (q34's axis), not the ANN path's
    val tmp = java.nio.file.Files.createTempDirectory("q218hot").toString
    val n = graft.llmops.VectorOps.MihMaxBucket + 6
    val one = Array.tabulate(64)(i => if (i % 2 == 0) 0.5f else -0.5f)
    val rows = (0 until n).map(i => (i.toLong, one.toSeq, "l0"))
    spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
      .coalesce(2).write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    assert(graft.llmops.VectorOps.q218MihTopk(spark, tmp).count() == 0,
      "all-hot buckets must be excluded from candidate generation")
    // the exact-scan sibling still answers — which is WHY the exclusion
    // is safe to declare: the class it drops is fully dup-covered
    assert(graft.llmops.VectorOps.q212HammingTopk(spark, tmp).count() > 0)
  }

  // ------------------------------------------------------------- q219

  test("q219: datacard totals conserve and the histogram-midrank quantiles " +
    "equal a direct type-1 recompute") {
    val rows = graft.llmops.TextOps.q219SourceDatacard(spark, dir).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), size(split(col("text"), "\\s+")).cast("long").as("n_tok"))
      .collect().groupBy(_.getString(0))
    assert(rows.keySet == docs.keySet && rows.nonEmpty)
    docs.foreach { case (src, ds) =>
      val r = rows(src)
      assert(r.getAs[Long]("n_docs") == ds.length)
      val lens = ds.map(_.getLong(1)).sorted
      assert(r.getAs[Long]("n_tokens") == lens.sum)
      // type-1 quantile: smallest value whose cumulative count >= ceil(q n)
      def t1(q: Int): Long = lens((q * lens.length + 99) / 100 - 1)
      assert(r.getAs[Long]("p50_tokens") == t1(50), s"$src p50")
      assert(r.getAs[Long]("p95_tokens") == t1(95), s"$src p95")
      assert(r.getAs[Long]("p50_tokens") <= r.getAs[Long]("p95_tokens"))
      assert(r.getAs[Double]("lang_entropy") >= 0.0)
      val share = r.getAs[Double]("top_lang_share")
      assert(share > 0.0 && share <= 1.0)
      assert(r.getAs[Double]("chars_per_token") > 0.0)
    }
  }

  test("q219: the quantile plan windows over histogram cells, never raw rows " +
    "(no percentile buffering — the q155 lesson)") {
    val plan = graft.llmops.TextOps.q219SourceDatacard(spark, dir)
      .queryExecution.optimizedPlan.toString.toLowerCase
    assert(!plan.contains("percentile"),
      "quantiles must come from the histogram midrank, not a percentile agg")
  }

  // ------------------------------------------------------------- q220

  test("q220: candidates nest across geometries and recall is monotone " +
    "in the band count; the shipped (4,4) row conserves against q37") {
    val rows = graft.llmops.TextOps.q220LshGeometrySweep(spark, dir).collect()
      .sortBy(_.getAs[Int]("bands"))
    assert(rows.map(_.getAs[Int]("bands")).toSeq == Seq(2, 4, 8, 16))
    assert(rows.map(r => r.getAs[Int]("bands") * r.getAs[Int]("rows_per_band"))
      .forall(_ == graft.llmops.TextOps.MinhashK))
    // the fixture caps no bucket, so the nesting argument is exact:
    // equality on an r-wide band implies equality on its nested bands
    assert(rows.forall(_.getAs[Long]("n_buckets_capped") == 0L),
      "fixture buckets must sit under the cap for the nesting check")
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getAs[Long]("n_candidates") <= hi.getAs[Long]("n_candidates"),
        "splitting bands can only add collisions")
      assert(lo.getAs[Double]("recall") <= hi.getAs[Double]("recall"),
        "recall must be monotone in the band count")
    }
    // conservation: hits at the shipped q37 geometry ARE q37's survivors
    val q37n = graft.llmops.TextOps.q37NeardupLsh(spark, dir).count()
    val g4 = rows.find(_.getAs[Int]("bands") == graft.llmops.TextOps.Bands).get
    assert(g4.getAs[Long]("n_hit") == q37n,
      s"(4,4) hits ${g4.getAs[Long]("n_hit")} must equal q37's $q37n survivors")
  }

  // ------------------------------------------------------------- sq23

  test("sq23: z is null exactly on each type's first closed window; " +
    "anomalous implies |z| >= 3; windows are closed under the watermark") {
    val rows = graft.streaming.StreamOps.sq23StreamAnomaly(spark, dir).collect()
    assert(rows.nonEmpty)
    val firstWin = rows.groupBy(_.getAs[String]("event_type"))
      .map { case (t, rs) => t -> rs.map(_.getAs[Long]("janela_ms")).min }
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      val isFirst = r.getAs[Long]("janela_ms") == firstWin(t)
      val zIdx = r.fieldIndex("z")
      if (isFirst) assert(r.isNullAt(zIdx), s"first window of $t must have null z")
      if (r.getAs[Boolean]("anomalous"))
        assert(math.abs(r.getDouble(zIdx)) >= 3.0)
      assert(r.getAs[Long]("n") >= 1)
    }
    // closed-window bound: window end <= max ts - 2h (the sq12 rule)
    val maxTs = spark.read.parquet(s"$dir/events.parquet")
      .agg(max(unix_millis(col("ts").cast("timestamp")))).head().getLong(0)
    rows.foreach { r =>
      assert(r.getAs[Long]("janela_ms") + 3600 * 1000 <= maxTs - 2 * 3600 * 1000,
        "append mode must only emit windows closed under the watermark")
    }
    // the stateful family reports its state telemetry for the ladder
    assert(graft.streaming.StreamOps.lastStatePeak("sq23_stream_anomaly").isDefined)
  }

  // ------------------------------------------------------------- q221

  test("q221: the semantic sweep is monotone and its floor row is exactly " +
    "the q43 pair set") {
    val rows = graft.llmops.VectorOps.q221SemdedupSweep(spark, dir).collect()
      .sortBy(_.getAs[Double]("threshold"))
    assert(rows.map(_.getAs[Double]("threshold")).toSeq ==
      Seq(0.5, 0.6, 0.7, 0.8, 0.9))
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getAs[Long]("n_pairs") >= hi.getAs[Long]("n_pairs"))
      assert(lo.getAs[Long]("n_removed") >= hi.getAs[Long]("n_removed"))
    }
    val q43n = graft.llmops.VectorOps.q43CosNeardup(spark, dir).count()
    assert(rows.head.getAs[Long]("n_pairs") == q43n,
      "the minimum-threshold row must count the full q43 pair set")
    val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
    rows.foreach { r =>
      val ret = r.getAs[Double]("retention")
      assert(ret >= 0.0 && ret <= 1.0)
      assert(r.getAs[Long]("n_removed") <= nVecs)
    }
  }

  // ------------------------------------------------------------- q222

  test("q222: SQL UDFs inline to plain expressions — no opaque UDF node, " +
    "same exchange inventory as the inline twin, equal answers") {
    val udf = graft.queries.SqlSurfaceOps.q222SqlUdf(spark, dir)
    val twin = graft.queries.SqlSurfaceOps.q222InlineTwin(spark, dir)
    // inlining proof: the optimized aggregate carries the arithmetic
    // ITSELF (sum over a multiply), and no UDF/lateral/subquery node
    // survives. (Strict plan equality is too brittle: the analyzer
    // leaves a zero-cost parameter-binding Project and commutes the
    // multiply — IEEE-commutative, value-identical.)
    val opt = udf.queryExecution.optimizedPlan.toString
    assert(!opt.contains("ScalaUDF") && !opt.toLowerCase.contains("lateral"),
      s"the SQL UDF body must inline into the aggregate:\n$opt")
    val phys = udf.queryExecution.executedPlan.toString
    assert(!phys.contains("ScalaUDF") && !phys.contains("BatchEvalPython"),
      "no opaque UDF node may survive inlining")
    // identical distributed shape: same exchange inventory
    assert(Scale.exchangeCounts(udf) == Scale.exchangeCounts(twin),
      "a SQL UDF must not add an exchange over the inline twin")
    assert(udf.collect().toSeq == twin.collect().toSeq)
  }

  // ------------------------------------------------------------- q223

  test("q223: the GK certification gates like q155 — branch agreement, " +
    "twin null above the gate, certified at the bench SF") {
    def byType(exactTwin: Boolean) =
      graft.queries.MiningOps.q223Plan(spark, dir, exactTwin).collect()
        .map(r => r.getAs[String]("event_type") -> r).toMap
    val withTwin = byType(true)
    val samplerOnly = byType(false)
    assert(withTwin.keySet == samplerOnly.keySet && withTwin.nonEmpty)
    withTwin.foreach { case (k, a) =>
      val b = samplerOnly(k)
      assert(a.getAs[Long]("n") == b.getAs[Long]("n"))
      assert(a.getAs[Boolean]("within_bounds") && b.getAs[Boolean]("within_bounds"))
      assert(!a.isNullAt(a.fieldIndex("exact_median")))
      assert(b.isNullAt(b.fieldIndex("exact_median")))
    }
    // the certification holds above the gate too (sf0.1, sampler-only)
    val big = graft.queries.MiningOps
      .q223ApproxQuantileCert(spark, "/root/testdata/sf0.1").collect()
    assert(big.nonEmpty)
    big.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("exact_median")))
      assert(r.getAs[Boolean]("within_bounds"), s"GK rank bound violated: $r")
    }
  }

  test("sq23: ±1e15 values survive the DECIMAL sum terms (the adversarial " +
    "events fixture squared them past 28-digit precision)") {
    val tmp = java.nio.file.Files.createTempDirectory("sq23huge").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (0 until 300).map { i =>
      val v = if (i % 2 == 0) 1e15 else -1e15
      (i.toLong, new java.sql.Timestamp(base.getTime + i * 60000L),
        (i % 5).toLong, "huge", v, "{}")
    }
    spark.createDataFrame(rows)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/events.parquet")
    // v² = 1e30 per row — must aggregate without ANSI decimal overflow
    val out = graft.streaming.StreamOps.sq23StreamAnomaly(spark, tmp).collect()
    assert(out.nonEmpty, "closed hourly windows must emit")
    out.foreach(r => assert(r.getAs[Long]("n") >= 1))
  }

  test("q223: the tie-aware rank condition certifies a constant-valued type " +
    "(every value equals the estimate)") {
    val tmp = java.nio.file.Files.createTempDirectory("q223ties").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (0 until 400).map { i =>
      (i.toLong, new java.sql.Timestamp(base.getTime + i * 1000L),
        (i % 7).toLong, "flat", 42.0, "{}")
    }
    spark.createDataFrame(rows)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val r = graft.queries.MiningOps.q223ApproxQuantileCert(spark, tmp).collect()
    assert(r.length == 1 && r.head.getAs[Boolean]("within_bounds"),
      s"a constant distribution must certify (frac_below=0, frac_at=1): ${r.toSeq}")
  }

  // -------------------------------------------------------------- q52

  test("q52: the exact twins gate on row count — sketch-only above, with " +
    "rank/invariant certification; exact shapes gone from the plan") {
    // above-gate branch forced on the gate fixture: booleans certify
    // without the exact twins, exacts ship NULL
    val only = graft.queries.Queries.q52Plan(spark, dir, exactTwin = false)
    val rows = only.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("exact_users")))
      assert(r.isNullAt(r.fieldIndex("exact_p50")))
      assert(r.isNullAt(r.fieldIndex("exact_p90")))
      assert(r.getAs[Boolean]("users_within_bounds"), s"HLL invariant: $r")
      assert(r.getAs[Boolean]("p50_within_bounds") &&
        r.getAs[Boolean]("p90_within_bounds"), s"GK rank bound: $r")
    }
    val plan = only.queryExecution.optimizedPlan.toString.toLowerCase
    assert(!plan.contains("count(distinct") && !plan.contains("countdistinct"),
      "above the gate no exact distinct may remain")
    assert(!"(?<!approx_)percentile\\(".r.findFirstIn(plan).isDefined,
      "above the gate no exact percentile buffer may remain")
    // the public entry routes sf0.1 (100k events) to the sketch-only
    // branch and the certification holds there
    val big = graft.queries.Queries
      .q52Sketches(spark, "/root/testdata/sf0.1").collect()
    assert(big.nonEmpty && big.forall(r =>
      r.isNullAt(r.fieldIndex("exact_p50")) &&
        r.getAs[Boolean]("users_within_bounds") &&
        r.getAs[Boolean]("p50_within_bounds") &&
        r.getAs[Boolean]("p90_within_bounds")))
    // the gate branch (what the sf0.01 oracle sees) is unchanged
    val gated = graft.queries.Queries.q52Plan(spark, dir, exactTwin = true).collect()
    assert(gated.forall(r => !r.isNullAt(r.fieldIndex("exact_p50")) &&
      r.getAs[Boolean]("p50_within_bounds")))
  }

  // ------------------------------------------------------------- q224

  test("q224: the count-table identity equals the materialized join, " +
    "without ever running it") {
    val r = graft.queries.MiningOps.q224JoinCardinality(spark, dir).head()
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val truth = li.join(o, col("l_orderkey") === col("o_orderkey")).count()
    assert(r.getAs[Long]("join_rows") == truth,
      s"sum(ca*cb) must equal the true join size $truth")
    assert(r.getAs[Long]("n_keys_common") <=
      math.min(r.getAs[Long]("n_keys_left"), r.getAs[Long]("n_keys_right")))
    val share = r.getAs[Double]("top_key_share")
    assert(share > 0.0 && share <= 1.0)
    assert(r.getAs[Double]("mean_fanout") >= 1.0)
    // the profile plan must not contain the fact-fact join itself:
    // both join inputs are already-aggregated count tables
    val plan = graft.queries.MiningOps.q224JoinCardinality(spark, dir)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("Aggregate"), "count tables must aggregate below the join")
  }

  // ------------------------------------------------------------- q225

  test("q225: touches and attributions are monotone in the window; the " +
    "max-window row conserves against the q154 join") {
    val rows = graft.queries.MiningOps.q225AttributionSweep(spark, dir).collect()
      .sortBy(_.getAs[Long]("window_us"))
    assert(rows.length == 4)
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getAs[Long]("n_touch_pairs") <= hi.getAs[Long]("n_touch_pairs"),
        "a longer lookback cannot lose touch pairs")
      assert(lo.getAs[Long]("n_attributed") <= hi.getAs[Long]("n_attributed"))
    }
    // conservation at the maximum window: exactly q154's join geometry
    val e = spark.read.parquet(s"$dir/events.parquet")
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"),
        unix_micros(col("ts").cast("timestamp")).as("pus"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), unix_micros(col("ts").cast("timestamp")).as("cus"))
    val touches = p.join(c, col("user_id") === col("cu") &&
      col("cus") <= col("pus") &&
      col("cus") >= col("pus") - graft.queries.MiningOps.TouchWindowUs)
    val full = rows.last
    assert(full.getAs[Long]("n_touch_pairs") == touches.count())
    assert(full.getAs[Long]("n_attributed") ==
      touches.select("pid").distinct().count())
    rows.foreach { r =>
      val ar = r.getAs[Double]("attach_rate")
      assert(ar >= 0.0 && ar <= 1.0)
    }
  }

  // ------------------------------------------------------------- q226

  test("q226: every edge lands in exactly one cluster; density/spread " +
    "bounds hold; edge totals conserve against q53") {
    val rows = graft.llmops.TextOps.q226ClusterQuality(spark, dir).collect()
    assert(rows.nonEmpty, "the fixture embeds near-dup families")
    val totalEdges = graft.llmops.TextOps.q53SimhashNeardup(spark, dir).count()
    assert(rows.map(_.getAs[Long]("n_edges")).sum == totalEdges,
      "every q53 edge must be audited in exactly one cluster")
    rows.foreach { r =>
      val size = r.getAs[Long]("cluster_size")
      val edges = r.getAs[Long]("n_edges")
      assert(size >= 2, "clusters are >=2 by construction")
      assert(edges >= size - 1, "a connected component has >= size-1 edges")
      assert(edges <= size * (size - 1) / 2)
      val d = r.getAs[Double]("density")
      assert(d > 0.0 && d <= 1.0)
      assert(r.getAs[Double]("mean_hamming") <= r.getAs[Int]("max_hamming"))
      assert(r.getAs[Int]("max_hamming") <= graft.llmops.TextOps.HammingMax)
    }
  }

  test("q155: the sampler-only certification holds at the bench SF " +
    "(where the exact twin no longer runs)") {
    val rows = MiningOps.q155BottomkQuantile(spark, "/root/testdata/sf0.1").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("exact_median")),
        s"sf0.1 is above the gate — the twin must not ship: $r")
      assert(r.getAs[Boolean]("within_bounds"),
        s"the frac_below binomial bound must certify the sample median: $r")
    }
  }
}
