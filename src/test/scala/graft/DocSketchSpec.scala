package graft

import graft.functions.GraftFunctions.docSketch
import graft.llmops.TextOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The per-document MinHash sketch: `DocSketch` against the exploded
  * formulation it replaced, the `minhash_sigs` artifact it builds, the
  * near-dup answers verified from it, and the build that starts no
  * job. */
class DocSketchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val testdata = s"${sys.props("user.home")}/testdata"
  private val sf001 = s"$testdata/sf0.01"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("doc-sketch-test", cores = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def withCodegen[T](on: Boolean)(body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), on.toString)
    spark.conf.set(keys(1), if (on) "CODEGEN_ONLY" else "NO_CODEGEN")
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The exploded formulation DocSketch replaces, kept as its oracle:
    * split → posexplode → two leads → distinct (doc_id, shingle) rows →
    * md5 base hash → per-doc min of each permutation and the row count,
    * plus the shingle set. */
  private def builtinSigs(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val ex = docs.select(col("doc_id"), split(col("text"), "\\s+").as("w"))
      .select(col("doc_id"), posexplode(col("w")).as(Seq("pos", "tk")))
      .select(col("doc_id"), col("tk"),
        lead("tk", 1).over(w).as("t2"), lead("tk", 2).over(w).as("t3"))
      .filter(col("t3").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("tk"), col("t2"), col("t3")).as("shingle"))
      .distinct()
      .withColumn("h", TextOps.baseHash(col("shingle")))
    val aggs = (0 until TextOps.MinhashK)
      .map(j => min((col("h") * TextOps.aj(j) + TextOps.bj(j)) % TextOps.MinhashP).as(s"m$j")) ++
      Seq(count(lit(1)).as("n_sh"), collect_set(col("shingle")).as("sh"))
    ex.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** `(doc_id, m0..m15, n_sh, sorted sh)` per document, sorted by doc. */
  private def sigRows(df: DataFrame): Seq[(Long, Seq[Long], Long, Seq[String])] =
    df.collect().toSeq.map { r =>
      (r.getAs[Long]("doc_id"),
        (0 until TextOps.MinhashK).map(j => r.getAs[Long](s"m$j")),
        r.getAs[Long]("n_sh"),
        r.getAs[scala.collection.Seq[String]]("sh").toSeq.sorted)
    }.sortBy(_._1)

  private val edgeTexts: Seq[String] = Seq(
    null, "", "one", "two words", "three words here", "   ", "\t\n",
    " lead space words", "trail space words ", "  both  ends  here  ",
    "tab\tsep\tarated\twords", "new\nline\r\nwords here",
    "a  b   c    d", "x y x y x y x y", "same same same same same",
    "три слова юникода ещё раз", "的 了 是 在 不 的 了 是", "😀 a 😀 a 😀 b",
    "nbsp\u00a0is not\u00a0whitespace here")

  private def edgeDocs: DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      edgeTexts.zipWithIndex.map { case (t, i) => Row(-1L - i, t) }.asJava,
      graft.sources.Tables.schema(spark, s"$sf001/documents.parquet")(Set("doc_id", "text")))
  }

  test("DocSketch equals the exploded formulation on the sf0.01 corpus and edge rows, " +
    "codegen'd and interpreted") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select("doc_id", "text").union(edgeDocs)
    for (codegen <- Seq(true, false)) withCodegen(codegen) {
      val sk = docs.select(col("doc_id"), docSketch(col("text")).as("sk"))
      assert(sk.schema("sk").dataType == graft.functions.DocSketch.Type)
      val got = sk.filter(col("sk").isNotNull)
        .select(col("doc_id") +: (0 until TextOps.MinhashK)
          .map(j => col("sk.m").getItem(j).as(s"m$j")) :+
          col("sk.n_sh").as("n_sh") :+ col("sk.sh").as("sh"): _*)
      val want = builtinSigs(docs)
      val (g, w) = (sigRows(got), sigRows(want))
      assert(g.size == w.size, s"codegen=$codegen: ${g.size} sketches vs ${w.size} docs")
      g.zip(w).foreach { case (a, b) => assert(a == b, s"codegen=$codegen") }
      // sh is a set: no repeats, and n_sh is its size
      got.collect().foreach { r =>
        val sh = r.getAs[scala.collection.Seq[String]]("sh")
        assert(sh.distinct.size == sh.size && sh.size == r.getAs[Long]("n_sh"))
      }
      // the null and short rows have no sketch, and the edge rows that
      // do are the ones with at least 3 split tokens
      val edgeGot = g.map(_._1).filter(_ < 0).toSet
      val edgeWant = edgeTexts.zipWithIndex.collect {
        case (t, i) if t != null && t.split("\\s+", -1).length >= 3 => -1L - i
      }.toSet
      assert(edgeGot == edgeWant, s"codegen=$codegen")
    }
  }

  test("minhash_sigs (doc_id, m0..m15, n_sh) is row-identical to the exploded-index build") {
    val cols = "doc_id" +: (0 until TextOps.MinhashK).map(j => s"m$j") :+ "n_sh"
    val art = TextOps.minhashSigs(spark, sf001)
    assert(art.columns.toSeq == cols :+ "sh")
    val got = art.select(cols.map(col): _*)
    val want = builtinSigs(spark.read.parquet(s"$sf001/documents.parquet"))
      .select(cols.map(col): _*)
    assert(got.count() == want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  /** Row count and md5 of the sorted rows of an answer. */
  private def digest(df: DataFrame): (Int, String) = {
    val rows = df.collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (rows.length, md.digest().map("%02x".format(_)).mkString)
  }

  test("q37, q39 and q92 at sf0.01 equal their outputs from the exploded-index build") {
    // digests of the answers the exploded shingle-index build gave
    // (the same rows the DuckDB oracles give), for every query that
    // reads a document's trigram set
    val want = Map(
      "q35_jaccard_pairs" -> ((25, "598fd3b0b2fab2393903356429c554b3")),
      "q37_neardup_lsh" -> ((25, "598fd3b0b2fab2393903356429c554b3")),
      "q39_neardup_capped" -> ((25, "598fd3b0b2fab2393903356429c554b3")),
      "q59_decontaminate" -> ((475, "25aac18fd9f289a42870dbbf7ef3c562")),
      "q62_repetition" -> ((500, "6272996d994c237494840e22d258a202")),
      "q87_bloom_decontaminate" -> ((475, "3a27d018bffdc24c831739dde19e3bfe")),
      "q88_containment" -> ((25, "f3fffd7be26cfc214f65c6a97962aec2")),
      "q92_incremental_dedup" -> ((100, "a9aeeff9036ef19af884bbe99830d671")),
      "q138_prefix_jaccard" -> ((25, "598fd3b0b2fab2393903356429c554b3")),
      "q177_crawl_novelty" -> ((20, "0914e6a678e9390219ae78469b82c099")),
      "q202_source_sketch_jaccard" -> ((190, "4290d5d69b011a290ea8854d206b5db5")),
      "q208_marginal_novelty" -> ((10, "4e92bab21ddd757bb11163ff0ff84727")),
      "q213_lsh_calibration" -> ((2, "83a603dbf8f0759ba65cd6e3aea1fad4")),
      "q214_weighted_jaccard" -> ((25, "1c9361cdc3204dfbec47eac843ffb938")),
      "q228_template_coverage" -> ((500, "39e5d68e0fd3be293ee6c68f2403a490")),
      "sq22_stream_neardup_gate" -> ((100, "6ca1b3d4b7d16ee9895a795b0e0be4e5")))
    want.foreach { case (name, d) =>
      assert(digest(SparkEntry.queries(name)(spark, sf001)) == d, name)
    }
  }

  /** A new directory holding a copy of the sf0.01 documents, so no
    * artifact is cached for it yet. */
  private def freshDocs(): String = {
    val fresh = graft.operators.PlanCache.tempDir("graft_sketch_fresh_")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf001/documents.parquet"),
      java.nio.file.Paths.get(s"$fresh/documents.parquet"))
    fresh
  }

  test("building q37's DataFrame on a fresh directory starts no Spark job") {
    val fresh = freshDocs()
    val sc = spark.sparkContext
    Bench.TaskClock.register(sc)
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
    val before = Bench.TaskClock.counts()
    val misses = TextOps.sigCache.misses
    val q37 = TextOps.q37NeardupLsh(spark, fresh)
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
    val after = Bench.TaskClock.counts()
    assert(TextOps.sigCache.misses == misses + 1, "a fresh directory builds minhash_sigs")
    assert(after.jobs == before.jobs, s"${after.jobs - before.jobs} jobs while building q37")
    assert(q37.count() == TextOps.q37NeardupLsh(spark, sf001).count())
  }

  test("q35 and q39 on a fresh directory share one minhash_sigs build; no shingle_index exists") {
    val fresh = freshDocs()
    val misses = TextOps.sigCache.misses
    val q35 = TextOps.q35JaccardPairs(spark, fresh).count()
    assert(TextOps.sigCache.misses == misses + 1, "q35 reads its shingles from minhash_sigs")
    val q39 = TextOps.q39NeardupCapped(spark, fresh).count()
    assert(TextOps.sigCache.misses == misses + 1, "q39 reuses q35's minhash_sigs build")
    assert((q35, q39) == ((25L, 25L)))
    assert(!graft.operators.PlanCache.registeredNames.contains("shingle_index"))
  }
}
