package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Engine-side invariants for the round-15 batch (round-14 verdict
  * items 1/2/5/6/7 + ADVICE; the artifact-cache attribution and
  * eviction-pressure specs live with their modules, in PlanCacheSpec
  * and BenchSpec):
  *  - q239 incremental IVF add-batch (frozen-codebook reuse — no
  *    Lloyd re-run — plus the row-level balance algebra);
  *  - q237 size-gated surface dispatch (both arms produce identical
  *    rows; the >threshold arm's plan carries WindowGroupLimit). */
class Round15Spec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("round15-test", cores = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Hits and misses summed over the k-means code frame and codebook. */
  private def codebookStats: (Long, Long) = {
    val cs = Seq(graft.llmops.VectorOps.codesCache, graft.llmops.VectorOps.codebookCache)
    (cs.map(_.hits).sum, cs.map(_.misses).sum)
  }

  // ------------------------------------- q239 incremental IVF add

  test("q239: assigns against the FROZEN q74 codebook — after the " +
    "trainer has published, the add-batch run re-runs no Lloyd " +
    "(codebook cache: zero new misses) and the balance algebra holds") {
    // trainer publishes the codebook artifact for this (session, dir)
    graft.llmops.VectorOps.q74KmeansCodebook(spark, sf).collect()
    val (h0, m0) = codebookStats
    val out = graft.llmops.VectorOps.q239IvfAddBatch(spark, sf).collect()
    val (h1, m1) = codebookStats
    assert(m1 == m0, "q239 must not retrain (no codebook/code cache miss)")
    assert(h1 > h0, "q239 must consume the published codebook artifact")
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_after") ==
        r.getAs[Long]("n_before") + r.getAs[Long]("n_added"))
    }
    val nTotal = out.map(_.getAs[Long]("n_after")).sum
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    assert(nTotal == emb.count(), "every vector lands in exactly one cell")
    val nAdded = out.map(_.getAs[Long]("n_added")).sum
    val expAdded = emb.filter(
      org.apache.spark.sql.functions.col("vec_id") % 10 === 7).count()
    assert(nAdded == expAdded, "the new batch is exactly the vec_id%10==7 slice")
  }

  // ------------------------------- q240/q241/q242 engine invariants

  test("q240: the FRESH ranking is q81 verbatim — the audit's baseline " +
    "leg cannot drift from the retrieval op it audits") {
    import org.apache.spark.sql.functions._
    val q81 = graft.llmops.TextOps.q81Bm25(spark, sf)
      .select(col("term"), col("doc_id"), col("rnk"), col("score"))
      .collect().map(_.toSeq).toSet
    // the audit's fresh leg, re-derived: same terms, stats, rounding
    val terms = graft.llmops.TextOps.q240Bm25Staleness(spark, sf)
      .select("term").collect().map(_.getString(0)).toSet
    val q81Terms = q81.map(_.head.asInstanceOf[String])
    assert(terms == q81Terms,
      "q240's term panel must be exactly q81's vocabulary cut")
  }

  test("q240: the fixture exercises REAL drift — stale stats move at " +
    "least one term's scores (the branch-aware-fixture rule: an audit " +
    "whose interesting branch the testdata never crosses pins nothing)") {
    val out = graft.llmops.TextOps.q240Bm25Staleness(spark, sf).collect()
    assert(out.nonEmpty)
    assert(out.exists(_.getAs[Double]("max_abs_delta") > 0.0),
      "stale df/N/avgdl must shift at least one term's scores")
  }

  test("q241: in-degree mass equals k·n (every vector casts exactly " +
    "TopK votes when n > TopK) and shares sum to ~1") {
    import org.apache.spark.sql.functions._
    val out = graft.llmops.VectorOps.q241KnnHubness(spark, sf).collect()
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val mass = out.map(r => r.getAs[Long]("in_degree") *
      r.getAs[Long]("n_vectors")).sum
    assert(mass == graft.llmops.VectorOps.TopK * n,
      s"in-degree mass must be k*n: $mass vs ${graft.llmops.VectorOps.TopK * n}")
    assert(out.map(_.getAs[Long]("n_vectors")).sum == n,
      "every vector appears in exactly one histogram bucket")
    val shares = out.map(_.getAs[Double]("share")).sum
    assert(math.abs(shares - 1.0) < 1e-3)
  }

  test("q242: per-K rows are well-formed (n_cells <= K, max_share in " +
    "(0,1], inertia positive) and swept codebooks are session " +
    "artifacts (second call trains nothing)") {
    val out = graft.llmops.VectorOps.q242CodebookSweep(spark, sf).collect()
    assert(out.map(_.getAs[Int]("k")).toSeq ==
      graft.llmops.VectorOps.KmKSweep)
    out.foreach { r =>
      assert(r.getAs[Long]("n_cells") <= r.getAs[Int]("k"))
      val ms = r.getAs[Double]("max_share")
      assert(ms > 0.0 && ms <= 1.0)
      assert(r.getAs[Long]("inertia") > 0L)
    }
    val (_, m0) = codebookStats
    graft.llmops.VectorOps.q242CodebookSweep(spark, sf).collect()
    val (_, m1) = codebookStats
    assert(m1 == m0, "second sweep call must hit every codebook artifact")
  }

  test("q243: the blocked two-stage exact top-k is row-for-row the q40 " +
    "baseline, and both rank cuts push down as WindowGroupLimit") {
    val blocked = graft.llmops.VectorOps.q243ExactTopkBlocked(spark, sf)
    val plan = blocked.queryExecution.executedPlan.toString
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2,
      s"both stages must push the rank cut:\n$plan")
    val got = blocked.collect().map(_.toSeq).toSeq
    val want = graft.llmops.VectorOps.exactTopk(spark, sf)
      .orderBy("vec_id", "rank").collect().map(_.toSeq).toSeq
    assert(got == want, "blocking must not change the exact result")
  }

  test("q244: the state read and sq24's closed emissions PARTITION the " +
    "event count — open-window state + closed-window output = corpus") {
    import org.apache.spark.sql.functions._
    val open = graft.streaming.StreamOps.q244StateInspect(spark, sf)
      .agg(sum("n")).collect()(0).getLong(0)
    val closed = graft.streaming.StreamOps.sq24StreamDistinct(spark, sf)
      .agg(sum("n")).collect()(0).getLong(0)
    val total = spark.read.parquet(s"$sf/events.parquet").count()
    assert(open + closed == total,
      s"open $open + closed $closed must equal the corpus $total")
  }

  // ------------------------------------- q237 size-gated dispatch

  test("q237: both dispatch arms produce identical rows; the above-" +
    "threshold arm's plan carries WindowGroupLimit (the group-limit " +
    "pushdown the lateral-TVF subtree misses)") {
    val key = "spark.graft.q237.dispatchRows"
    val tvf = graft.queries.SqlSurfaceOps.q237SqlTableFn(spark, sf)
    val tvfPlan = tvf.queryExecution.executedPlan.toString
    assert(!tvfPlan.contains("WindowGroupLimit"),
      "below threshold the TVF surface runs (and today misses the pushdown)")
    val tvfRows = tvf.collect().map(_.toSeq).toSeq
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try {
      val twin = graft.queries.SqlSurfaceOps.q237SqlTableFn(spark, sf)
      assert(twin.queryExecution.executedPlan.toString
        .contains("WindowGroupLimit"),
        "above threshold the engine must pick the window-rank twin")
      assert(twin.collect().map(_.toSeq).toSeq == tvfRows,
        "dispatch must be result-invariant")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
