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

  test("bench summary line: bounded size, parseable, slowest-10 — at full surface scale") {
    // the driver's tail capture truncates long lines from the FRONT
    // (BENCH_r8-r10 all parsed null); the LAST stdout record must fit
    // any scrape window whole even at 300+ entries with long names
    val results = scala.collection.mutable.LinkedHashMap(
      (1 to 300).map(i =>
        f"q${i}%03d_some_quite_long_operator_name_$i" ->
          Bench.Timing(1.0, Seq(i / 100.0, i / 99.0, i / 101.0))): _*)
    results("consume_avro_e2e") = Bench.Timing(0.4, Seq(0.326, 0.33, 0.32))
    val line = Bench.summaryLine(results, 100000, "/root/testdata/sf0.1", 32)
    assert(line.length <= 1024, s"summary must stay under 1 KB: ${line.length}")
    assert(!line.contains("\n"))
    // structurally valid JSON with the contract fields (no JSON lib on
    // the classpath — assert the shape directly)
    assert(line.startsWith("""{"metric":"total","value":"""))
    assert(line.endsWith("}") && line.contains(""""n":301"""))
    assert(line.contains(""""queries":{"""))
    assert(line.contains(""""avro_e2e_msgs_per_sec":"""))
    // the ten slowest by MIN (round-13 verdict #1: the headline is
    // the steal-robust min, not the contention-prone median), descending
    val qs = """"(q\d+_[a-z_0-9]+)":""".r.findAllMatchIn(
      line.substring(line.indexOf("\"queries\":"))).map(_.group(1)).toSeq
    assert(qs.size == 10)
    assert(qs.head == "q300_some_quite_long_operator_name_300")
    val mins = qs.map(n => results(n).min)
    assert(mins == mins.sorted.reverse, "top-10 must be descending")
    // the summary's total is the sum of entry MINs
    val v = """"value":([0-9.]+)""".r.findFirstMatchIn(line).get.group(1).toDouble
    val expected = results.values.map(_.min).filter(_ >= 0).sum
    assert(math.abs(v - expected) < 0.01, s"value must be min-based: $v vs $expected")
    // a pathological SPARK_GRAFT_BENCH_OUT path must not break the
    // 1 KB contract: the path is dropped, the line stays parseable
    val longPath = "/tmp/" + ("x" * 1500) + "/bench_out.json"
    val clipped = Bench.summaryLine(results, 100000, "/root/testdata/sf0.1",
      32, artifactPath = longPath)
    assert(clipped.length <= 1024, s"long-path summary overflows: ${clipped.length}")
    assert(!clipped.contains("full_artifact"))
    assert(clipped.endsWith("}") && clipped.contains(""""n":301"""))
  }

  test("bench calibration probe: fixed work, sane wall time, not elided") {
    // JIT warm-up, then the probe must land in a plausible band — wide
    // enough for any box, tight enough to catch an elided loop (<0.1ms)
    // or a broken iteration count (>10s)
    (1 to 3).foreach(_ => Bench.probeMs())
    val ms = (1 to 3).map(_ => Bench.probeMs())
    assert(ms.forall(m => m > 0.1 && m < 10000.0), s"probe out of band: $ms")
  }
}
