package graft

import graft.functions.{AvroSerde, GraftFunctions}
import graft.model.{EngineConf, SchemaDef}
import graft.operators.Metrics
import graft.sources.Generator
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-test", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

class CoreSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val tinyConf = EngineConf(totalMensagens = 100, tamanhoMensagemKB = 1,
    numParticoes = 18, warmupMensagens = 10)

  lazy val msgs = Generator.messages(spark, tinyConf).cache()

  test("generator: row count, sizing rule, partition balance") {
    assert(tinyConf.registrosPorMensagem == 5) // max(1, 1*1024/200)
    assert(msgs.count() == 100)
    // round-robin: counts per partition differ by <= 1
    val counts = msgs.groupBy("particao").count().select("count")
      .as[Long].collect()
    assert(counts.max - counts.min <= 1)
    // texto is exactly 100 chars, uuid 36 chars
    val r = msgs.select(explode($"dados").as("r")).select(
      length($"r.texto").as("lt"), length($"r.uuid").as("lu"))
      .distinct().as[(Int, Int)].collect()
    assert(r.toSet == Set((100, 36)))
  }

  test("generator is deterministic across runs") {
    val a = Generator.messages(spark, tinyConf)
      .orderBy("sequencia").collect()
    val b = Generator.messages(spark, tinyConf)
      .orderBy("sequencia").collect()
    assert(a.sameElements(b))
  }

  test("avro round-trip: from_avro(to_avro(x)) == x") {
    val payload = struct($"id", $"timestamp", $"sequencia", $"dados", $"versao")
    val back = msgs
      .withColumn("bin", AvroSerde.to_avro(payload, SchemaDef.mensagemAvroJson))
      .withColumn("rt", AvroSerde.from_avro($"bin", SchemaDef.mensagemAvroJson))
      .filter(!($"rt" === payload))
    assert(back.count() == 0)
  }

  test("avro binary length matches bytes_avro and estimator tracks it") {
    val payload = struct($"id", $"timestamp", $"sequencia", $"dados", $"versao")
    val df = msgs.select(
      $"bytes_avro",
      length(AvroSerde.to_avro(payload, SchemaDef.mensagemAvroJson)).cast("long").as("actual"),
      GraftFunctions.avroSizeEstimate($"dados").as("estimate"))
    assert(df.filter($"bytes_avro" =!= $"actual").count() == 0)
    // estimator (reference formula) ignores header fields -> strictly below actual
    assert(df.filter($"estimate" >= $"actual").count() == 0)
  }

  test("json round-trip: from_json(to_json(x)) == x") {
    val payload = struct($"id", $"timestamp", $"sequencia", $"dados", $"versao")
    val back = msgs
      .withColumn("js", to_json(payload))
      .withColumn("rt", from_json($"js", SchemaDef.mensagemType))
      .filter(!($"rt" === payload))
    assert(back.count() == 0)
  }

  test("confluent wire-format framing round-trips") {
    val payload = struct($"id", $"timestamp", $"sequencia", $"dados", $"versao")
    val df = msgs.limit(5)
      .withColumn("bin", AvroSerde.to_avro(payload, SchemaDef.mensagemAvroJson))
      .withColumn("wire", GraftFunctions.confluentWrap($"bin", 1234))
      .withColumn("body", GraftFunctions.confluentStrip($"wire"))
      .withColumn("sid", GraftFunctions.confluentSchemaId($"wire"))
    assert(df.filter($"body" =!= $"bin").count() == 0)
    assert(df.select("sid").distinct().as[Int].collect().toSeq == Seq(1234))
  }

  test("metrics report matches hand-computed fixture") {
    // 100 msgs, sucesso = (seq % 97 != 0) -> seq 97 fails => 99 ok, 1 err
    val rep = Metrics.report(msgs, $"bytes_avro", $"sucesso", $"timestamp", tinyConf)
      .collect()(0)
    assert(rep.getAs[Long]("totalMensagens") == 100)
    assert(rep.getAs[Long]("mensagensSucesso") == 99)
    assert(rep.getAs[Long]("mensagensComErro") == 1)
    assert(rep.getAs[String]("taxaSucessoPorcentagem") == "99.00")
    // duration = max(ts)-min(ts) = seq 100 - seq 1 = 99 ms
    assert(rep.getAs[Long]("duracaoMs") == 99)
    val bytes = msgs.agg(sum("bytes_avro")).as[Long].collect()(0)
    assert(rep.getAs[Long]("totalBytes") == bytes)
  }

  test("metrics zero-guards: empty input reports zeros not NaN") {
    val rep = Metrics.report(msgs.filter(lit(false)), $"bytes_avro", $"sucesso",
      $"timestamp", tinyConf).collect()(0)
    assert(rep.getAs[Long]("totalMensagens") == 0)
    assert(rep.getAs[String]("throughputMensagensPorSegundo") == "0.00")
    assert(rep.getAs[String]("tempoPorMensagemMs") == "0.00")
    assert(rep.getAs[String]("taxaSucessoPorcentagem") == "0.00")
  }

  test("observed metrics match agg metrics in one pass") {
    val (df, obs) = Metrics.observed(msgs, $"bytes_avro", $"sucesso", $"timestamp")
    df.write.format("noop").mode("overwrite").save()
    val m = obs.get
    assert(m("totalMensagens") == 100L)
    assert(m("mensagensSucesso") == 99L)
  }

  test("ConfScope: scoped width applies inside, restores after body, drift, and failure") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val inside = graft.operators.ConfScope.withShufflePartitions(spark, 7) {
      spark.conf.get(key)
    }
    assert(inside == "7" && spark.conf.get(key) == prev)
    // a body that mutates the conf itself (the drift the contract
    // warns about): the helper still restores the ORIGINAL value
    graft.operators.ConfScope.withShufflePartitions(spark, 7) {
      spark.conf.set(key, "13")
    }
    assert(spark.conf.get(key) == prev)
    // the restore runs on the failure path too
    intercept[RuntimeException] {
      graft.operators.ConfScope.withShufflePartitions(spark, 7) {
        throw new RuntimeException("boom")
      }
    }
    assert(spark.conf.get(key) == prev)
  }

  test("driver contract: oracle keys resolve, registries disjoint, entry non-empty") {
    val q = SparkEntry.queries
    val o = SparkEntry.oracleSql
    // a repeated name would shadow an entry silently in the derived maps
    val names = SparkEntry.defs.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate query names: ${names.diff(names.distinct)}")
    // an oracle for a query that does not exist would silently weaken
    // the gate (the driver skips unknown names)
    assert(q.keySet == o.keySet, s"keys differ: ${(q.keySet -- o.keySet) ++ (o.keySet -- q.keySet)}")
    assert(SparkEntry.entry(spark).count() > 0, "driver smoke: entry must return rows")
  }

  test("SPARK_GRAFT_CPUS: unset means every core; below 1 or non-numeric fails fast") {
    assert(GraftSession.parseCores(None) == Runtime.getRuntime.availableProcessors())
    assert(GraftSession.parseCores(Some(" 8 ")) == 8)
    Seq("0", "-2", "x").foreach { v =>
      val e = intercept[IllegalArgumentException](GraftSession.parseCores(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$v'"))
    }
  }
}
