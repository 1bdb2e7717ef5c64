package graft

import graft.sources.Tables
import graft.streaming.StreamOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The fixture-table loader: the schema it reads from a footer equals
  * the one Spark's inference gives on every table on the box and on
  * tables Spark writes, the stream sources declare what they declared
  * by hand before, and building an entry that only reads tables starts
  * no Spark job. */
class TablesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val testdata = s"${sys.props("user.home")}/testdata"
  private val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"$testdata/$sf")
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("tables-test", cores = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The `.parquet` tables (files or directories) directly under `dir`. */
  private def tablesIn(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .map(_.getPath).filter(_.endsWith(".parquet")).sorted

  /** A partitioned layout's partition columns come from its directory
    * names, so only the read carries them. */
  private def assertInferred(path: String, partitioned: Boolean = false): Unit = {
    val inferred = spark.read.parquet(path).schema
    assert(Tables.read(spark, path).schema == inferred, path)
    if (!partitioned) assert(Tables.schema(spark, path) == inferred, path)
  }

  /** `documents` as readers declared it by hand before the loader. */
  private val documentsType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  test("the footer schema equals the inferred one for every table of sf0.001, " +
    "sf0.01 and sf0.1 and both fixtures") {
    val paths = sfDirs.flatMap(tablesIn) ++
      Seq(graft.sources.GenFixtures.MessagesPath, graft.llmops.MultimodalOps.MediaPath)
    assert(paths.size == 32, paths)
    paths.foreach(assertInferred(_))
    sfDirs.foreach(d => assert(Tables.schema(spark, s"$d/documents.parquet") == documentsType, d))
  }

  test("the footer schema equals the inferred one on tables Spark writes: a " +
    "ScaleCheck rung, multi-file and partitioned directories, non-nullable columns, metadata") {
    val rung = graft.operators.PlanCache.tempDir("graft_tables_rung_")
    Scale.materialize(spark, s"$testdata/sf0.001", rung)
    val rungTables = tablesIn(rung)
    assert(rungTables.size == 10, rungTables)
    rungTables.foreach(assertInferred(_))

    val out = graft.operators.PlanCache.tempDir("graft_tables_spark_")
    Tables.read(spark, s"$testdata/sf0.01", "orders").repartition(4)
      .write.parquet(s"$out/multi")
    assert(new java.io.File(s"$out/multi").list().count(_.endsWith(".parquet")) == 4)
    Tables.read(spark, s"$testdata/sf0.01", "documents")
      .write.partitionBy("lang").parquet(s"$out/by_lang")
    // non-nullable columns, nested ones, and field metadata only the
    // schema Spark stores in the footer carries
    val meta = new MetadataBuilder().putString("unit", "s").build()
    spark.range(30).select(col("id"), lit(1).as("one"), array(col("id")).as("arr"),
        map(lit("k"), col("id")).as("m"), struct(col("id").as("x")).as("st"),
        col("id").as("secs", meta))
      .repartition(3).write.parquet(s"$out/not_null")
    Seq("multi", "not_null").foreach(t => assertInferred(s"$out/$t"))
    assertInferred(s"$out/by_lang", partitioned = true)

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$out/empty"))
    val e = intercept[IllegalArgumentException](Tables.schema(spark, s"$out/empty"))
    assert(e.getMessage.contains(s"$out/empty"))
  }

  test("eventsStream and sq2's documents source declare the schemas they declared by hand") {
    val events = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("ts", TimestampType)))
    sfDirs.foreach { d =>
      assert(StreamOps.eventsStream(spark, d).schema == events, d)
      assert(StreamOps.parquetStream(spark, s"$d/documents.parquet").schema ==
        documentsType, d)
    }
  }

  test("building one table-reading entry per module on a fresh directory starts no Spark job") {
    val fresh = graft.operators.PlanCache.tempDir("graft_tables_fresh_")
    tablesIn(s"$testdata/sf0.001").foreach { p =>
      val f = java.nio.file.Paths.get(p)
      java.nio.file.Files.copy(f, java.nio.file.Paths.get(fresh).resolve(f.getFileName))
    }
    val sc = spark.sparkContext
    Bench.TaskClock.register(sc)
    Seq("q11_revenue_nation", "q114_gapfill_locf", "q140_winsorize", "q159_pipe_syntax",
      "q175_psi_drift", "q102_label_separation", "q105_image_phash").foreach { name =>
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
      val before = Bench.TaskClock.counts().jobs
      val df = SparkEntry.queries(name)(spark, fresh)
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
      assert(Bench.TaskClock.counts().jobs == before,
        s"$name: ${Bench.TaskClock.counts().jobs - before} jobs while building")
      assert(df.columns.nonEmpty, name)
    }
  }

  test("a second build of q76 at sf0.1 starts no Spark job: the z-order " +
    "layout's read-back is memoized with the layout") {
    val sc = spark.sparkContext
    Bench.TaskClock.register(sc)
    val q76 = SparkEntry.queries("q76_zorder_pruned")
    q76(spark, s"$testdata/sf0.1") // the first build writes the layout
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
    val before = Bench.TaskClock.counts().jobs
    val df = q76(spark, s"$testdata/sf0.1")
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
    assert(Bench.TaskClock.counts().jobs == before,
      s"${Bench.TaskClock.counts().jobs - before} jobs while building q76 again")
    assert(df.columns.nonEmpty)
  }
}
