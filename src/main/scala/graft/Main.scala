package graft

import graft.functions.AvroSerde
import graft.model.{EngineConf, SchemaDef}
import graft.operators.Metrics
import graft.sources.Generator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** CLI entry — the Spark re-expression of the reference's dispatcher
  * (reference: AplicacaoPrincipal.java:21-59: env TIPO_APLICACAO
  * selects one of four pipelines). Offline analogue: Kafka topics
  * become parquet dirs holding the serialized values
  * (chave, particao, valor), so produce = generate + serialize + write
  * and consume = read + (optionally) parse + metrics.
  *
  * Usage:
  *   runMain graft.Main PRODUTOR_AVRO  /path/dir
  *   runMain graft.Main PRODUTOR_JSON  /path/dir
  *   runMain graft.Main CONSUMIDOR_AVRO /path/dir
  *   runMain graft.Main CONSUMIDOR_JSON /path/dir
  * Config via the reference's env names (TOTAL_MENSAGENS,
  * TAMANHO_MENSAGEM_KB, NUM_PARTICOES, BENCH_MODE, WARMUP_MENSAGENS…).
  */
object Main {

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "uso: graft.Main <PRODUTOR_AVRO|PRODUTOR_JSON|CONSUMIDOR_AVRO|CONSUMIDOR_JSON> <dir>")
      sys.exit(2)
    }
    val (mode, dir) = (args(0).toUpperCase, args(1))
    val conf = EngineConf.fromEnv()
    // O22: running progress at the reference's 100k cadence
    // (overridable via GRAFT_PROGRESS_EVERY), covering every action
    // the pipeline runs; a bad value fails here, before the session
    val every = graft.operators.ProgressTicker.everyFromEnv()
    val spark = GraftSession.getOrCreate(s"graft-$mode")
    try graft.operators.ProgressTicker.withTicker(spark, every) {
      val report = mode match {
        case "PRODUTOR_AVRO"   => produce(spark, conf, dir, avro = true)
        case "PRODUTOR_JSON"   => produce(spark, conf, dir, avro = false)
        case "CONSUMIDOR_AVRO" => consume(spark, conf, dir, avro = true)
        case "CONSUMIDOR_JSON" => consume(spark, conf, dir, avro = false)
        case other =>
          System.err.println(s"tipo de aplicação desconhecido: $other")
          sys.exit(2); null
      }
      // console report + JSON report sink, the O21 analogue
      report.show(truncate = false)
      report.coalesce(1).write.mode("overwrite").json(s"$dir/relatorio-$mode")
      println(report.toJSON.collect().mkString("\n"))
      // report → per-app results topic when a broker is configured
      // (reference ProdutorAvro.java:122-139 enviarMetricas; same
      // KAFKA_BOOTSTRAP_SERVERS flag as the data paths)
      graft.sources.KafkaIO.brokersFromEnv().foreach { brokers =>
        graft.sources.KafkaIO.publishReport(report, brokers,
          avro = mode.endsWith("AVRO"), producer = mode.startsWith("PRODUTOR"))
      }
    } finally spark.stop()
  }

  /** Generate + serialize + partitioned write (reference produce path,
    * ProdutorAvro.java:55-105 / ProdutorJson.java:45-95). The explicit
    * round-robin partition column is carried through the write so a
    * later reader sees the same layout as the 18-partition topic.
    * Producer-callback metrics count the messages past the warm-up, over
    * what was sent. */
  def produce(spark: SparkSession, conf: EngineConf, dir: String, avro: Boolean): DataFrame = {
    val msgs = Generator.messages(spark, conf)
    val raw = if (avro) Generator.rawAvro(msgs) else Generator.rawJson(msgs)
    val fmt = if (avro) "avro" else "json"
    val counted = col("sequencia") > conf.warmupMensagens
    graft.sources.KafkaIO.brokersFromEnv() match {
      case Some(brokers) =>
        // live topic write (reference: ProdutorAvro.java:69-95) — the
        // explicit partition column pins the (i-1)%P record partitioner;
        // rows already arrive one topic partition per generator slice.
        // Avro values ship in the Confluent wire format: the schema id
        // comes from the registry client (register-or-lookup under the
        // topic's value subject, exactly what KafkaAvroSerializer does —
        // ConfiguracaoKafka.java:151-156), then each record frames as
        // magic 0x00 + 4-byte id + body (the q49-certified layout)
        val topic = graft.sources.KafkaIO.topicoMensagens(avro)
        val toSend =
          if (avro) {
            val wireId = graft.sources.SchemaRegistryClient.fromEnv()
              .register(graft.sources.SchemaRegistryClient.valueSubject(topic),
                SchemaDef.mensagemAvroJson)
            raw.withColumn("valor",
              graft.functions.GraftFunctions.confluentWrap(col("valor"), wireId))
          } else raw
        graft.sources.KafkaIO.writeBatch(graft.sources.KafkaIO.toSinkFrame(toSend), brokers,
          topic, conf.compressionType.toLowerCase)
        // the kafka sink runs its own RDD action, which never completes
        // an observation: the report recomputes over the sent plan (the
        // serialized record INCLUDING the wire header, like the
        // reference's callback sizes)
        Metrics.report(toSend.filter(counted),
          octet_length(col("valor")).cast("long"), col("sucesso"), col("timestamp"), conf)
      case None =>
        // offline analogue: topic → partitioned parquet dir, one job.
        // Each generator slice holds one topic partition, so the write
        // needs no shuffle; coalescing contiguous slices runs it as one
        // wave of at most one task per core, and at most P tasks keep
        // each partition's k slices in one task, so each particao=k dir
        // still gets one file. COMPRESSION_TYPE maps onto the file
        // codec (the reference's producer compression axis —
        // ConfiguracaoKafka.java:112-118; parquet accepts the same
        // names: none/lz4/snappy/gzip/zstd). `valor` is unique per
        // row, so a dictionary for it would be built and then dropped.
        // The report aggregates ride on the write as an observation.
        val (observed, obs) = Metrics.observed(raw,
          octet_length(col("valor")).cast("long"), col("sucesso"), col("timestamp"), counted)
        observed.coalesce(math.min(spark.sparkContext.defaultParallelism, conf.numParticoes))
          .write.mode("overwrite").partitionBy("particao")
          .option("compression", conf.compressionType.toLowerCase)
          .option("parquet.enable.dictionary#valor", "false")
          .parquet(s"$dir/messages_raw_$fmt")
        Metrics.observedReport(spark, obs, conf)
    }
  }

  /** Read + optional parse + metrics (reference consume path,
    * ConsumidorAvro.java:57-130 / ConsumidorJson.java:56-209).
    * BENCH_MODE=TRANSPORTE skips the decode entirely — Catalyst column
    * pruning means the parse expression is never even evaluated. */
  def consume(spark: SparkSession, conf: EngineConf, dir: String, avro: Boolean): DataFrame = {
    val fmt = if (avro) "avro" else "json"
    val live = graft.sources.KafkaIO.brokersFromEnv()
    val raw = live match {
      case Some(brokers) =>
        // live topic scan (reference: ConsumidorAvro.java:57-121);
        // task-per-topic-partition replaces thread-per-partition. The
        // Kafka record timestamp replaces the stored column; ok/
        // sequencia come out of the decode exactly like the file path.
        graft.sources.KafkaIO.fromSourceFrame(
          graft.sources.KafkaIO.readAll(spark, brokers,
            graft.sources.KafkaIO.topicoMensagens(avro)))
      case None =>
        // the layout produce wrote, declared: no schema-inference job
        spark.read.schema(SchemaDef.topicType(avro)).parquet(s"$dir/messages_raw_$fmt")
    }
    // live Avro values carry the 5-byte Confluent wire header the
    // producer framed (see produce): strip it before decode — the
    // consumer-side schemaById resolution the reference performs is
    // [[graft.sources.SchemaRegistryClient]]; with one static schema
    // the resolved text equals the compiled SchemaDef, so the decode
    // plan stays a static expression (no per-record schema dispatch)
    val avroBody =
      if (live.isDefined) graft.functions.GraftFunctions.confluentStrip(col("valor"))
      else col("valor")
    // bytes on the wire: the offline JSON `valor` is a UTF-8 string,
    // whose `length` would count characters (a scan of every byte)
    // where the live path's binary value and produce count bytes
    val bytes = octet_length(col("valor")).cast("long").as("bytes")
    val parsed = conf.benchMode match {
      case "TRANSPORTE" =>
        // size-only projection (O15): no decode of `valor`. The record
        // timestamp is a TOP-LEVEL column (the wire metadata a Kafka
        // consumer sees without deserializing), so transport mode can
        // still report a real duration / throughput — with a constant
        // ts every derived rate hit the zero-guards and the one mode
        // whose purpose is transport throughput printed 0.00.
        // no decode => no sequencia; the warm-up filter (a processed-
        // count heuristic in the reference) does not apply here
        raw.select(col("particao"), bytes,
          lit(true).as("ok"),
          col("timestamp").as("ts"),
          lit(Long.MaxValue).as("seq"))
      case _ => // E2E_PARSE: full decode (O13/O14)
        val payload =
          if (avro) AvroSerde.from_avro(avroBody, SchemaDef.mensagemAvroJson)
          else from_json(col("valor").cast("string"), SchemaDef.mensagemType)
        raw.select(col("particao"), bytes, payload.as("m"))
          .select(col("particao"), col("bytes"),
            col("m").isNotNull.as("ok"),
            col("m.timestamp").as("ts"),
            col("m.sequencia").as("seq"))
    }
    Metrics.report(
      parsed.filter(col("seq") > conf.warmupMensagens),
      col("bytes"), col("ok"), col("ts"), conf)
  }
}
