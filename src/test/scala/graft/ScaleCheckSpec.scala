package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** Pins the scale instrument ([[Scale]]). First its corpus construction
  * (PERF.md §3): the ladder is only meaningful if a materialized rung
  * actually exhibits the HOT-SHINGLE adversarial regime, so the
  * properties the round-6 numbers were measured under are asserted here
  * — a silent change to the salting would otherwise turn future drills
  * into soft tests. Then its op table, declared skips, ladder checks and
  * runner. */
class ScaleCheckSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var base: String = _
  private var out: String = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("scalecheck-test", cores = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    base = java.nio.file.Files.createTempDirectory("graft_scbase_").toString
    out = java.nio.file.Files.createTempDirectory("graft_scout_").toString
    val s = spark
    import s.implicits._
    Seq(
      (1L, "alpha beta gamma delta", "en", "src0"),
      (2L, "alpha beta epsilon", "en", "src1"),
      (3L, "zeta eta theta iota kappa", "pt", "src0"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.parquet(s"$base/documents.parquet")
    Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), 0),
      (2L, Array(4.0f, 5.0f, 6.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$base/embeddings.parquet")
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 10L, "click", 1.0, "{}"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:30:00"), 10L, "view", 2.0, "{}"),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 20L, "click", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$base/events.parquet")
    Seq((10L, "cust10", 1, 5.0, "SEG")).toDF(
      "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$base/customer.parquet")
    Scale.materialize(spark, base, out)
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("scaled corpus: 10x docs with distinct ids, 4x vectors with shifted values") {
    val docs = spark.read.parquet(s"$out/documents.parquet")
    assert(docs.count() == 30)
    assert(docs.select("doc_id").distinct().count() == 30, "copy ids must not collide")
    val emb = spark.read.parquet(s"$out/embeddings.parquet")
    assert(emb.count() == 8)
    // per-copy shift keeps vectors distinct while preserving geometry
    val firsts = emb.select(element_at(col("embedding"), 1)).collect()
      .map(_.getFloat(0)).toSet
    assert(firsts.size >= 8 - 2 + 1, s"copies must perturb values: $firsts")
  }

  test("salting produces the hot-shingle regime: (salt, word, salt) trigram df tracks word df") {
    val docs = spark.read.parquet(s"$out/documents.parquet")
    // copy 0 of the base docs (ids id*10 + 0): tokens interleaved with salt0
    val copy0 = docs.filter(col("doc_id") % 10 === 0)
    val toks = copy0.select(col("doc_id"),
      split(col("text"), "\\s+").as("w"))
    // every INTERIOR token is flanked by the salt, so the trigram
    // (salt0, w, salt0) occurs for each interior word occurrence —
    // its document frequency equals the word's own df over interior
    // positions. Check the shared interior word "beta": df 2 in base.
    val tri = toks.select(col("doc_id"), posexplode(col("w")).as(Seq("p", "t")))
      .filter(col("t") === "beta").select("doc_id").distinct().count()
    assert(tri == 2, s"'beta' must appear in 2 docs of copy 0, got $tri")
    // and the salt itself is in EVERY doc of the copy — the hot token
    val saltDf = toks.select(col("doc_id"), explode(col("w")).as("t"))
      .filter(col("t") === "salt0").select("doc_id").distinct().count()
    assert(saltDf == 3, "salt token must be corpus-hot within its copy")
    // token count doubles minus one: n words -> 2n-1 tokens
    val counts = toks.select(size(col("w")).as("n")).collect().map(_.getInt(0)).sorted
    assert(counts.toSeq == Seq(5, 7, 9), s"interleave must give 2n-1 tokens: ${counts.toSeq}")
  }

  test("scaled events: 10x rows, distinct event_ids, UNCHANGED hot user_ids; dimension unscaled") {
    val ev = spark.read.parquet(s"$out/events.parquet")
    assert(ev.count() == 30)
    assert(ev.select("event_id").distinct().count() == 30, "copy ids must not collide")
    // the skew/state regime: user_ids (and event types) do NOT scale —
    // every user becomes a 10x hot key and the sq10 distinct key set
    // stays fixed while input rows grow
    assert(ev.select("user_id").distinct().count() == 2)
    assert(ev.select("user_id", "event_type").distinct().count() == 3)
    assert(spark.read.parquet(s"$out/customer.parquet").count() == 1,
      "the customer dimension must copy over unscaled")
  }

  test("salts differ across copies so shingles never collide cross-copy") {
    val docs = spark.read.parquet(s"$out/documents.parquet")
    val salts = docs.select(explode(split(col("text"), "\\s+")).as("t"))
      .filter(col("t").startsWith("salt")).distinct().collect().map(_.getString(0)).toSet
    assert(salts == (0 until 10).map(c => s"salt$c").toSet)
  }

  test("Scale.materialize at level 2: digit-append ids stay distinct at depth, salt families disjoint") {
    val lvl = java.nio.file.Files.createTempDirectory("graft_sclvl_").toString
    // chain on top of the already-materialized 10x dir — the depth
    // case additive id offsets cannot survive
    Scale.materialize(spark, out, lvl)
    assert(Scale.levelOf(base) == 0 && Scale.levelOf(out) == 1 && Scale.levelOf(lvl) == 2)
    val docs = spark.read.parquet(s"$lvl/documents.parquet")
    assert(docs.count() == 300, "10x the 30-doc level-1 corpus")
    assert(docs.select("doc_id").distinct().count() == 300,
      "digit-append ids must stay collision-free when chained")
    val salts = docs.select(explode(split(col("text"), "\\s+")).as("t"))
      .filter(col("t").rlike("^s?salt[0-9]$")).select("t").distinct()
      .collect().map(_.getString(0)).toSet
    assert((0 until 10).forall(c => salts.contains(s"ssalt$c")),
      "level-2 salts present")
    assert((0 until 10).forall(c => salts.contains(s"salt$c")),
      "level-1 salts preserved inside level-2 copies")
    val ev = spark.read.parquet(s"$lvl/events.parquet")
    assert(ev.select("event_id").distinct().count() == ev.count(),
      "event ids distinct after chaining")
    assert(ev.select("user_id").distinct().count() == 2,
      "user ids unchanged — the hot-key/bounded-state regime compounds")
  }

  test("Scale.exchangeCounts separates shuffle from broadcast exchanges") {
    val docs = spark.read.parquet(s"$base/documents.parquet")
    // one groupBy = one shuffle exchange, zero broadcasts
    val (s1, b1) = Scale.exchangeCounts(
      docs.groupBy("source").agg(count(lit(1))))
    assert(s1 == 1 && b1 == 0, s"groupBy counted ($s1, $b1)")
    // a broadcast-hinted join adds exactly one broadcast exchange and
    // no shuffle for the joined side
    val dims = docs.select(col("source")).distinct()
    val (s2, b2) = Scale.exchangeCounts(
      docs.join(broadcast(dims), Seq("source")).groupBy("lang")
        .agg(count(lit(1))))
    assert(b2 == 1, s"broadcast join counted ($s2, $b2)")
    assert(s2 >= 1 && s2 <= 2, s"distinct+agg shuffles counted ($s2, $b2)")
  }

  // ------------------------------------------------ op table and skips

  test("sweep declared skips: sq18@1000x emits an explicit artifact row; " +
    "reasons are JSON-safe and carry the measured attempts") {
    val r = Scale.skipReason("sq18_stream_join_chain", "/tmp/graft_sf10")
    assert(r.isDefined, "the sq18 1000x envelope declaration must be a skip ROW")
    assert(r.get.contains("38 min") && r.get.contains("88 min"),
      "a declared skip must cite its measured attempts, not just assert")
    // keep the registry free of characters that would need escaping in
    // the row's JSON string literal
    Scale.Table.collect { case (_, Scale.Skip(_, reason)) => reason }.foreach { reason =>
      assert(!reason.exists(c => c == '"' || c == '\\' || c == '\n'),
        s"skip reason must be JSON-literal-safe: $reason")
    }
    // skips are rung-specific: the same op still RUNS below the envelope
    assert(Scale.skipReason("sq18_stream_join_chain", "/tmp/graft_sf1").isEmpty)
    assert(Scale.skipReason("sq3_stream_join", "/tmp/graft_sf10").isEmpty)
    // round-13 ADVICE: the match is basename-EXACT — a hypothetical
    // graft_sf100 rung (or any path merely containing the substring)
    // must not inherit the graft_sf10 skip; a trailing slash is inert
    assert(Scale.skipReason("sq18_stream_join_chain", "/tmp/graft_sf100").isEmpty)
    assert(Scale.skipReason("sq18_stream_join_chain",
      "/tmp/other_graft_sf10_copy").isEmpty)
    assert(Scale.skipReason("sq18_stream_join_chain", "/tmp/graft_sf10/").isDefined)
  }

  test("op table: 140 distinct default ops, every one a declared entry; " +
    "ops left out by reason and skip rows stay out of the default run") {
    val ops = Scale.DefaultOps
    val declared = SparkEntry.defs.map(_.name).toSet
    assert(ops.size == 140 && ops.distinct.size == 140, ops.size)
    assert(Scale.Table.map(_._1).distinct.size == Scale.Table.size, "one row per op")
    assert(Scale.Table.map(_._1).filterNot(declared).isEmpty)
    Seq("q192_margin_align", "q198_ann_rank_eval", "sq18_stream_join_chain",
      "q243_exact_topk_blocked", "q227_split_survivors").foreach { op =>
      assert(!ops.contains(op), op)
    }
    assert(Scale.treatment("q138_prefix_jaccard") == Scale.OutputBound)
    assert(Seq("q105_image_phash", "q167_chunk_manifest")
      .forall(op => Scale.treatment(op).isInstanceOf[Scale.Media]))
    assert(Scale.treatment("q11_revenue_nation") == Scale.Timed, "an unlisted op is timed")
  }

  // ------------------------------------------------------- the ladder

  test("SPARK_GRAFT_SWEEP_DIRS: fewer than 2 rungs, a repeated rung or a " +
    "missing first rung fails naming the variable and its value") {
    Seq(s" $base , ", s"$base,$out,$base/", s"$base/missing,$out").foreach { v =>
      val e = intercept[IllegalArgumentException](Scale.ladder(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_SWEEP_DIRS") &&
        e.getMessage.contains(s"'$v'"), e.getMessage)
    }
    // trimmed, blanks dropped; a rung above the first may not exist yet
    assert(Scale.ladder(Some(s" $base ,, $out/next ")) == Seq(base, s"$out/next"))
  }

  test("runner: one row per (op, rung), growth on the second rung, the " +
    "declared skip row, and nothing written under the first rung") {
    val root = java.nio.file.Files.createTempDirectory("graft_ladder_")
    val rung0 = root.resolve("sf0.001")
    java.nio.file.Files.createDirectories(rung0)
    new java.io.File(s"${sys.props("user.home")}/testdata/sf0.001").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.copy(f.toPath, rung0.resolve(f.getName)))
    // the declared skips sit at the graft_sf10 rung
    val rung1 = root.resolve("graft_sf10").toString
    def files(): Map[String, (Long, Long)] = {
      val w = java.nio.file.Files.walk(rung0)
      try w.iterator().asScala.map(p => p.toString -> ((p.toFile.length, p.toFile.lastModified))).toMap
      finally w.close()
    }
    val before = files()
    val ops = Seq("q95_pii_redact", "q121_table_checksum", "q243_exact_topk_blocked")
    val lines = Scale.run(spark, Seq(rung0.toString, rung1), ops, passes = 1)
    assert(files() == before, "the first rung must not be written")
    assert(Scale.levelOf(rung1) == 1)

    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val rows = lines.map(json.readTree).filter(_.has("op"))
    assert(rows.map(r => (r.get("op").asText, r.get("dir").asText)) ==
      ops.flatMap(op => Seq(op -> rung0.toString, op -> rung1)), "one row per (op, rung)")
    rows.foreach { r =>
      val (op, dir) = (r.get("op").asText, r.get("dir").asText)
      if (op == "q243_exact_topk_blocked" && dir == rung1) {
        assert(r.get("skipped").asBoolean && r.get("reason").asText.contains("551 s"))
        assert(!r.has("min"))
      } else {
        assert(r.get("min").asDouble >= 0 && r.has("shuffle_exchanges") &&
          r.has("broadcast_exchanges"), r)
        assert(r.has("growth") == (dir == rung1), r)
      }
    }
    val docs = lines.map(json.readTree).filter(_.has("documents"))
    assert(docs.map(_.get("documents").asLong) == Seq(docs.head.get("documents").asLong,
      10 * docs.head.get("documents").asLong))
    assert(json.readTree(lines.last).get("entries").asInt == 6)
  }
}
