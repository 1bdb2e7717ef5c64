package graft

import graft.functions.GraftFunctions._
import graft.model.EngineConf
import graft.sources.{GenFixtures, Generator}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The message generator: its output is pinned to the committed
  * fixture, its codegen'd payload expression to the builtin
  * formulation, and its range layout to one topic partition per slice. */
class GeneratorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("generator-test", cores = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The builtin formulation GenRegistros replaces, kept as its oracle. */
  private def builtinRegistros(seed: Long, seq: Column, n: Int): Column = {
    val s = lit(seed)
    transform(sequence(lit(0), lit(n - 1)), i => struct(
      i.cast("int").as("indice"),
      deterministicText(100, s, seq, i, lit("texto")).as("texto"),
      deterministicUniform(1000.0, s, seq, i, lit("numero")).as("numero"),
      (lit(Generator.BaseTs) + seq).as("timestamp"),
      deterministicUuid(s, seq, i, lit("uuid")).as("uuid")))
  }

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

  test("Generator.messages(FixtureConf) equals the committed messages fixture") {
    val gen = Generator.messages(spark, GenFixtures.FixtureConf)
    val fx = spark.read.parquet(GenFixtures.MessagesPath)
    assert(gen.exceptAll(fx).count() == 0, "generated rows missing from the fixture")
    assert(fx.exceptAll(gen).count() == 0, "fixture rows the generator no longer makes")
    // a parquet read marks every column nullable; the writer's schema,
    // nullability included, is in the footer
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(GenFixtures.MessagesPath),
      spark.sparkContext.hadoopConfiguration)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val written =
      try reader.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata")
      finally reader.close()
    assert(DataType.fromJson(written) == gen.schema)
  }

  test("GenRegistros equals the builtin formulation, codegen'd and interpreted") {
    val seqs = spark.range(1, 41).toDF("sequencia")
      .union(spark.range(1).select(lit(1000000000007L).as("sequencia")))
    for {
      codegen <- Seq(true, false)
      seed <- Seq(-7L, 0L, 42L)
      n <- Seq(1, 5, 51, 512)
    } withCodegen(codegen) {
      def run(c: Column) = {
        val df = seqs.select(col("sequencia"), c.as("dados"))
        (df.schema("dados").dataType, df.orderBy("sequencia").collect().toSeq)
      }
      val (gotType, got) = run(genRegistros(seed, col("sequencia"), n))
      val (wantType, want) = run(builtinRegistros(seed, col("sequencia"), n))
      val at = s"codegen=$codegen seed=$seed n=$n"
      assert(gotType == wantType, at)
      assert(got.size == want.size && got == want, at)
    }
  }

  test("produce writes one file per particao dir, holding only that partition's rows") {
    for (parts <- Seq(18, 3)) {
      val conf = EngineConf(totalMensagens = 500, tamanhoMensagemKB = 1,
        numParticoes = parts, consumerThreads = parts, seed = 7)
      val tmp = java.nio.file.Files.createTempDirectory("graft_layout_")
      Main.produce(spark, conf, tmp.toString, avro = true).collect()
      val topic = tmp.resolve("messages_raw_avro").toFile
      val dirs = topic.listFiles().filter(_.getName.startsWith("particao=")).sortBy(_.getName)
      assert(dirs.map(_.getName).toSet == (0 until parts).map(k => s"particao=$k").toSet,
        s"P=$parts")
      dirs.foreach { d =>
        val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(files.length == 1, s"P=$parts ${d.getName}: ${files.map(_.getName).toSeq}")
      }
      val rows = spark.read.parquet(topic.toString)
      assert(rows.count() == 500)
      assert(rows.filter(pmod(col("sequencia") - 1, lit(parts.toLong)) =!= col("particao"))
        .count() == 0, s"P=$parts: a row sits in another partition's dir")
    }
  }
}
