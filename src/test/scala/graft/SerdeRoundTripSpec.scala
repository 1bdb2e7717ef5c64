package graft

import graft.model.{EngineConf, SchemaDef}
import graft.operators.{Metrics, ProgressTicker}
import graft.sources.Generator
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The offline produce/consume legs of `graft.Main`: the report
  * observed on the write equals the report over a re-read of what was
  * written, the declared topic schema equals the inferred one, and bad
  * configuration fails before any work with its name and value. */
class SerdeRoundTripSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val conf = EngineConf(totalMensagens = 600, tamanhoMensagemKB = 1,
    numParticoes = 18, consumerThreads = 18, warmupMensagens = 37, seed = 3)

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("serde-roundtrip-test", cores = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp() = java.nio.file.Files.createTempDirectory("graft_serde_").toString
  private def fmt(avro: Boolean) = if (avro) "avro" else "json"

  test("the produce report observed on the write equals the report over a re-read") {
    for (avro <- Seq(true, false); codec <- Seq("none", "lz4")) {
      val c = conf.copy(compressionType = codec)
      val dir = tmp()
      val observed = Main.produce(spark, c, dir, avro).collect().toSeq
      val written = spark.read.parquet(s"$dir/messages_raw_${fmt(avro)}")
      val reread = Metrics.report(written.filter(col("sequencia") > c.warmupMensagens),
        octet_length(col("valor")).cast("long"), col("sucesso"), col("timestamp"), c)
        .collect().toSeq
      assert(observed == reread, s"${fmt(avro)}/$codec")
      assert(observed.head.getAs[Long]("totalMensagens") == 600 - 37)
    }
  }

  test("the declared topic schema is the inferred one; consume reports equal an inferred read") {
    for (avro <- Seq(true, false)) {
      val dir = tmp()
      Main.produce(spark, conf, dir, avro).collect()
      val raw = spark.read.parquet(s"$dir/messages_raw_${fmt(avro)}")
      assert(raw.schema == SchemaDef.topicType(avro), fmt(avro))
      val bytes = length(col("valor")).cast("long")
      val e2e = Metrics.report(raw.filter(col("sequencia") > conf.warmupMensagens),
        bytes, lit(true), col("timestamp"), conf)
      val transporte = conf.copy(benchMode = "TRANSPORTE")
      val transport = Metrics.report(raw, bytes, lit(true), col("timestamp"), transporte)
      assert(Main.consume(spark, conf, dir, avro).collect().toSeq == e2e.collect().toSeq,
        s"${fmt(avro)} E2E_PARSE")
      assert(Main.consume(spark, transporte, dir, avro).collect().toSeq ==
        transport.collect().toSeq, s"${fmt(avro)} TRANSPORTE")
    }
  }

  test("bad serde configuration fails fast, naming the variable and its value") {
    val bad = Seq(
      "NUM_PARTICOES" -> "0", "CONSUMER_THREADS" -> "0", "TAMANHO_MENSAGEM_KB" -> "0",
      "TOTAL_MENSAGENS" -> "-1", "WARMUP_MENSAGENS" -> "-5", "NUM_PARTICOES" -> "x",
      "TOTAL_MENSAGENS" -> "1e6")
    bad.foreach { case (k, v) =>
      val e = intercept[IllegalArgumentException](EngineConf.fromEnv(Map(k -> v)))
      assert(e.getMessage.contains(k) && e.getMessage.contains(v), e.getMessage)
    }
    val e = intercept[IllegalArgumentException](
      Generator.messages(spark, conf.copy(numParticoes = 0)))
    assert(e.getMessage.contains("NUM_PARTICOES=0"), e.getMessage)
    assert(ProgressTicker.everyFromEnv(Map.empty) == ProgressTicker.IntervaloLog)
    assert(ProgressTicker.everyFromEnv(Map("GRAFT_PROGRESS_EVERY" -> " 250 ")) == 250L)
    Seq("0", "-3", "often").foreach { v =>
      val e = intercept[IllegalArgumentException](
        ProgressTicker.everyFromEnv(Map("GRAFT_PROGRESS_EVERY" -> v)))
      assert(e.getMessage.contains("GRAFT_PROGRESS_EVERY") && e.getMessage.contains(s"'$v'"))
    }
  }
}
