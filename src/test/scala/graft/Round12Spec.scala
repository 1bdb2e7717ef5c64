package graft

import graft.llmops.{TextOps, VectorOps}
import graft.streaming.StreamOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Engine-side invariants for the round-12 operator batch (q212
  * binary-quantized ANN, q213 LSH calibration, q214 IDF-weighted
  * near-dup, sq22 streaming near-dup admission gate). Cross-engine
  * value equality is the DuckDB oracle's job at the sf0.01 gate; these
  * pin semantics the oracle can't see (bit-level code correctness,
  * recall floors, behavioral discounting, plan shape). */
class Round12Spec extends AnyFunSuite with BeforeAndAfterAll {

  private val dir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("round12-test", cores = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  // ------------------------------------------------------------- q212

  test("q212: every reported Hamming distance matches a bit-exact recompute") {
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def code(v: Array[Float]): (Long, Long) = {
      var lo = 0L; var hi = 0L
      (0 until 32).foreach { i => if (v(i) > 0f) lo |= (1L << i) }
      (0 until 32).foreach { i => if (v(32 + i) > 0f) hi |= (1L << i) }
      (lo, hi)
    }
    val rows = VectorOps.q212HammingTopk(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (alo, ahi) = code(vecs(r.getAs[Long]("vec_id")))
      val (blo, bhi) = code(vecs(r.getAs[Long]("neighbor_id")))
      val want = java.lang.Long.bitCount(alo ^ blo) +
        java.lang.Long.bitCount(ahi ^ bhi)
      assert(r.getAs[Int]("hamming") == want,
        s"hamming mismatch for ${r.getAs[Long]("vec_id")}→${r.getAs[Long]("neighbor_id")}")
    }
  }

  test("q212: recall@5 vs the exact brute force, every query answered") {
    def topkSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getAs[Long]("vec_id"))
        .map { case (k, rs) => k -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val exact = topkSets(VectorOps.q40CosineTopk(spark, dir))
    val bq = topkSets(VectorOps.q212HammingTopk(spark, dir))
    assert(bq.keySet == exact.keySet, "binary ANN must answer every query")
    val recall = exact.map { case (q, ex) =>
      (ex intersect bq.getOrElse(q, Set.empty)).size.toDouble / ex.size
    }.sum / exact.size
    // random near-orthogonal embeddings are the hard case for 1-bit
    // codes: measured 0.466 at this fixture with a 20-candidate
    // shortlist; 0.4 is the deterministic floor (everything is
    // seed-free and data-fixed, so this cannot flake)
    assert(recall >= 0.4, s"mean recall@5 $recall < 0.4")
    info(f"binary-quantized recall@5 = $recall%.3f")
  }

  test("q212: the shortlist cut is a pushed window group limit, floats stay off the quadratic pass") {
    val plan = VectorOps.q212HammingTopk(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      "per-query top-C must push below the sort as a group limit")
    // the cross join must move only (id, lo, hi) — never the float
    // vectors (they join back for the shortlist only)
    val cross = plan.linesIterator.filter(_.contains("CartesianProduct"))
      .mkString("\n")
    assert(!cross.contains("embedding") && !cross.contains("#v") &&
      !cross.contains(" w#"),
      s"quadratic pass must carry packed codes only:\n$cross")
  }

  // ------------------------------------------------------------- q213

  test("q213: theoretical S-curve matches the closed form, rates are sane") {
    val rows = TextOps.q213LshCalibration(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val bin = r.getAs[Long]("bin")
      assert(bin >= 0 && bin <= 9)
      val mid = (bin.toDouble * 2 + 1) / 20.0
      // closed form computed from the CONSTANTS (not hand-unrolled), so
      // a geometry retune that staled the query column would fail here
      val sr = Seq.fill(TextOps.RowsPerBand)(mid).reduceLeft(_ * _)
      val want = BigDecimal(1.0 -
          Seq.fill(TextOps.Bands)(1.0 - sr).reduceLeft(_ * _))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("theoretical_rate") == want,
        s"theory column must be the closed form at the bin-$bin midpoint")
      val c = r.getAs[Long]("n_collide")
      val miss = r.getAs[Long]("n_miss_sampled")
      assert(c >= 0 && miss >= 0 && c + miss > 0, "a bin exists only with pairs")
      val rate = r.getAs[Double]("collision_rate_est")
      assert(rate >= 0.0 && rate <= 1.0)
      // the estimator is exactly c / (c + Mod*miss), rounded
      val want2 = BigDecimal(c.toDouble /
        (c + TextOps.CalibSampleMod.toDouble * miss))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(rate == want2, "rate must be the stratified estimator")
    }
  }

  test("q213: every q37 survivor is a counted collision in its Jaccard bin") {
    // q37's output pairs all collided in >=1 band and have jaccard>=0.5,
    // so the calibration report must count at least that many collisions
    // in bins 5..9 — conservation between the tuning audit and the dedup
    val survivors = TextOps.q37NeardupLsh(spark, dir).count()
    val highBins = TextOps.q213LshCalibration(spark, dir)
      .filter(col("bin") >= 5).agg(sum("n_collide")).collect()(0).getLong(0)
    assert(highBins >= survivors,
      s"bins 5..9 count $highBins collisions < ${survivors} q37 survivors")
  }

  // ------------------------------------------------------------- q214

  test("q214: boilerplate cannot vote documents into duplicates; real dupes survive") {
    val tmp = java.nio.file.Files.createTempDirectory("q214fix").toString
    val boiler = (0 until 30).map(i => s"tpl$i").mkString(" ")
    val docA = s"$boiler ua0 ua1 ua2 ua3 ua4 ua5 ua6"
    val docB = s"$boiler ub0 ub1 ub2 ub3 ub4 ub5 ub6"
    val twin = "rare content twin payload alpha beta gamma delta"
    val docs =
      Seq((100L, docA), (101L, docB), (200L, twin), (201L, twin)) ++
        (0 until 10).map(i => (300L + i, boiler))
    spark.createDataFrame(docs).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("src0").as("source"), length(col("text")).cast("long").as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val unweighted = TextOps.q35JaccardPairs(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val weighted = TextOps.q214WeightedJaccard(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unweighted.contains((100L, 101L)),
      "unweighted Jaccard must merge the boilerplate pair (the failure mode)")
    assert(!weighted.contains((100L, 101L)),
      "IDF weighting must discount the shared boilerplate below threshold")
    assert(weighted.contains((200L, 201L)) && unweighted.contains((200L, 201L)),
      "an exact rare-content duplicate must survive both measures")
  }

  test("q214: the declared hot-only exclusion is real, and exact dedup covers it") {
    // two IDENTICAL all-boilerplate docs whose every shingle is hot
    // (df > MaxShingleDf): true weighted jaccard is 1.0, but they share
    // no rare shingle so the capped candidate generation excludes them —
    // the documented caveat. The same pair MUST be caught by the
    // exact-dedup axis (q34's normalized fingerprint), which is why the
    // exclusion is safe: all-hot near-dups are all-hot exact dups'
    // neighborhoods, handled one op earlier in the pipeline.
    val tmp = java.nio.file.Files.createTempDirectory("q214hot").toString
    val boiler = (0 until 30).map(i => s"hot$i").mkString(" ")
    val docs = Seq((1L, boiler), (2L, boiler)) ++
      (0 until 25).map(i => (10L + i, boiler))
    spark.createDataFrame(docs).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("src0").as("source"), length(col("text")).cast("long").as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val weighted = TextOps.q214WeightedJaccard(spark, tmp).collect()
    assert(weighted.isEmpty,
      "all-hot pairs are excluded from the capped candidate set by design")
    val removed = TextOps.q34ExactDedup(spark, tmp).collect()
      .map(_.getAs[Long]("n_removed")).sum
    assert(removed >= 1, "the exact-dedup axis must flag the all-hot twins")
  }

  test("q214: weights are the exact integer floor(IdfScale / df)") {
    // one shared rare shingle between exactly two docs weighs
    // floor(2^20 / 2); the wjaccard of the exact twins is 1.0
    val rows = TextOps.q214WeightedJaccard(spark, dir).collect()
    rows.foreach { r =>
      val wj = r.getAs[Double]("wjaccard")
      assert(wj >= TextOps.WeightedThreshold && wj <= 1.0)
    }
  }

  // ------------------------------------------------------------- q216

  test("q216: pair and removal counts are monotone non-increasing in the threshold") {
    val rows = TextOps.q216DedupSweep(spark, dir).collect()
      .sortBy(_.getAs[Double]("threshold"))
    assert(rows.map(_.getAs[Double]("threshold")).toSeq ==
      Seq(0.5, 0.6, 0.7, 0.8, 0.9))
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getAs[Long]("n_pairs") >= hi.getAs[Long]("n_pairs"),
        "raising the threshold cannot create pairs")
      assert(lo.getAs[Long]("n_removed") >= hi.getAs[Long]("n_removed"),
        "raising the threshold cannot remove more docs")
    }
    // the 0.5 row is exactly the q35 pair set
    val q35n = TextOps.q35JaccardPairs(spark, dir).count()
    assert(rows.head.getAs[Long]("n_pairs") == q35n,
      "the minimum-threshold row must count the full q35 pair set")
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    rows.foreach { r =>
      val ret = r.getAs[Double]("retention")
      assert(ret >= 0.0 && ret <= 1.0)
      assert(r.getAs[Long]("n_removed") <= nDocs, "cannot remove more docs than exist")
    }
  }

  // ------------------------------------------------------------- q217

  test("q217: fragmentation is monotone non-increasing in the budget, counts conserve") {
    val rows = TextOps.q217PackSweep(spark, dir).collect()
      .sortBy(_.getAs[Long]("budget"))
    assert(rows.map(_.getAs[Long]("budget")).toSeq == Seq(256L, 512L, 1024L, 2048L))
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo.getAs[Long]("n_chunks") >= hi.getAs[Long]("n_chunks"),
        "a bigger budget cannot need more chunks")
      // boundaries at budget 2B are a subset of the boundaries at B,
      // so doubling the budget cannot cut more docs (the grid doubles)
      assert(lo.getAs[Long]("n_cut_docs") >= hi.getAs[Long]("n_cut_docs"),
        "a doubled budget cannot cut more docs")
    }
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_cut_docs") <= nDocs)
      val share = r.getAs[Double]("cut_token_share")
      assert(share >= 0.0 && share <= 1.0)
    }
  }

  // ------------------------------------------------------------- q215

  test("q215: recall is monotone in the probe budget and agrees with q61 at nprobe=3") {
    val rows = VectorOps.q215ProbeSweep(spark, dir).collect()
      .map(r => r.getAs[Int]("probes") ->
        (r.getAs[Long]("n_hits"), r.getAs[Double]("recall_at_k"))).toMap
    assert(rows.keySet == VectorOps.ProbeSweep.toSet)
    // more probe cells can only add candidates ahead of the cut
    VectorOps.ProbeSweep.sliding(2).foreach { case Seq(lo, hi) =>
      assert(rows(lo)._1 <= rows(hi)._1,
        s"recall must not decrease from $lo to $hi probes")
    }
    // the swept point at the production budget IS the q61 certification
    val q61 = VectorOps.q61IvfRecall(spark, dir).collect()(0)
    assert(rows(VectorOps.IvfProbes)._1 == q61.getAs[Long]("n_hits"),
      "the sweep's nprobe=3 row must equal the q61 certification")
  }

  // ------------------------------------------------------------- sq22

  test("sq22: the in-row band hashes equal the batch signature build, doc for doc") {
    // one geometry on two paths: the stream side bands each row's
    // DocSketch in-row, the batch side bands the minhash_sigs artifact
    // (TextOps.minhashSigs -> bandedSigs). They must never drift, and
    // short documents must keep null band hashes.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val inRow = StreamOps.withInRowBands(docs).collect()
      .flatMap { r =>
        (0 until TextOps.Bands).flatMap { b =>
          Option(r.getAs[String](s"bh$b")).map(bh => (r.getAs[Long]("doc_id"), b, bh))
        }
      }.toSet
    val batch = TextOps.bandedSigs(TextOps.minhashSigs(spark, dir)).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band"), r.getAs[String]("bh")))
      .toSet
    assert(inRow == batch,
      "in-row and batch band hashes must be identical for every document")
    assert(inRow.nonEmpty)
  }

  test("sq22: streaming admission equals the stateless batch probe") {
    val streamed = StreamOps.sq22StreamNeardupGate(spark, dir).collect()
    val incrMod = TextOps.IncrMod
    val newDocs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % incrMod === 0).count()
    assert(streamed.length == newDocs,
      "every arriving new-batch doc must receive a verdict")
    streamed.foreach { r =>
      val hits = r.getAs[Int]("n_band_hits")
      assert(hits >= 0 && hits <= TextOps.Bands)
      assert(r.getAs[Boolean]("admitted") == (hits == 0),
        "admitted must be exactly the every-band-miss predicate")
    }
    // the fixture embeds near-dup families across the id split, so the
    // gate must actually reject something (13/100 at this fixture)
    assert(streamed.exists(!_.getAs[Boolean]("admitted")),
      "the gate must reject at least one arriving near-dup")
    assert(streamed.count(_.getAs[Boolean]("admitted")) > 0,
      "the gate must admit at least one novel doc")
  }
}
