package graft.sources

import graft.functions.AvroSerde
import graft.functions.GraftFunctions._
import graft.model.{EngineConf, SchemaDef}
import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Distributed, deterministic message generator — the Spark-native
  * re-expression of the reference's driver-side generate loop
  * (reference: util/GeradorCargaEstruturada.java:17-74 and
  * aplicacoes/ProdutorAvro.java:55-70).
  *
  * Shape: `spark.range` (already partition-parallel, no driver loop)
  * + pure column expressions + one codegen'd payload expression
  * ([[graft.functions.GenRegistros]]) for `dados`; at 100 TB this
  * scales linearly with executors because each task generates its own
  * range slice independently — zero shuffle.
  *
  * Determinism: the reference uses unseeded Random/UUID/now(); we
  * derive every field from (seed, sequencia, indice) hashes so t2
  * oracle hashing is possible (SURVEY.md §7.4).
  */
object Generator {

  /** Fixed epoch base for deterministic "timestamps": 2024-01-01T00:00Z. */
  val BaseTs: Long = 1704067200000L

  /** The `messages` table with envelope columns (FIXTURES.md §A):
    * chave/particao per the reference's producer record
    * (ProdutorAvro.java:67-68: key "msg-"+i, partition (i-1)%P),
    * bytes_avro/bytes_json = serialized sizes on each path, sucesso =
    * deterministic error injection (1 in 97 fails) standing in for the
    * producer-callback error accounting (ProdutorAvro.java:74-90).
    *
    * Layout: the range is laid out partition-major, so each of its
    * P×k slices holds the messages of exactly one topic partition, in
    * `sequencia` order (k = ceil(cores/P), at least 1). With m =
    * ceil(n/P) ids per partition, id ↦ sequencia = (id % m)·P + id div m
    * + 1, and ids whose sequencia passes n are dropped. A partitioned
    * write therefore needs no shuffle, and contiguous slices keep
    * `particao` order when coalesced.
    */
  def messages(spark: SparkSession, conf: EngineConf): DataFrame = {
    conf.validate()
    val n = conf.totalMensagens
    val p = conf.numParticoes.toLong
    val m = math.max(1L, (n + p - 1) / p)
    val k = math.max(1L, (spark.sparkContext.defaultParallelism + p - 1) / p)
    val id = col("id")
    // m >= 1, so neither % nor div can yield null
    val seq = ColumnBridge.column(KnownNotNull(ColumnBridge.expression(
      (id % m) * p + idiv(id, lit(m)) + 1)))
    val s = lit(conf.seed)
    spark.range(0, m * p, 1, (p * k).toInt)
      .select(seq.as("sequencia"))
      .filter(col("sequencia") <= n)
      .select(col("sequencia"),
        concat(lit("msg-"), col("sequencia")).as("chave"),
        pmod(col("sequencia") - 1, lit(p)).cast("int").as("particao"),
        deterministicUuid(s, col("sequencia"), lit("id")).as("id"),
        (lit(BaseTs) + col("sequencia")).as("timestamp"),
        lit("1.0").as("versao"),
        genRegistros(conf.seed, col("sequencia"), conf.registrosPorMensagem).as("dados"))
      .withColumn("bytes_avro",
        length(AvroSerde.to_avro(payloadStruct, SchemaDef.mensagemAvroJson)).cast("long"))
      .withColumn("bytes_json", octet_length(to_json(payloadStruct)).cast("long"))
      .withColumn("sucesso", pmod(col("sequencia"), lit(97L)) =!= 0)
  }

  /** Serialized views, the analogue of the two producer wire formats:
    * (chave, particao, valor) plus the envelope metadata the producer
    * callback accounting needs (sequencia/timestamp/sucesso — the
    * Kafka analogues are the record key/timestamp and send result).
    * `valor` is the ONLY serialization of the payload in the plan;
    * producer metrics derive from `octet_length(valor)` downstream
    * rather than re-serializing. */
  def rawAvro(messages: DataFrame): DataFrame =
    messages.select(col("chave"), col("particao"), col("sequencia"),
      col("timestamp"), col("sucesso"),
      AvroSerde.to_avro(payloadStruct, SchemaDef.mensagemAvroJson).as("valor"))

  def rawJson(messages: DataFrame): DataFrame =
    messages.select(col("chave"), col("particao"), col("sequencia"),
      col("timestamp"), col("sucesso"), to_json(payloadStruct).as("valor"))

  private def payloadStruct: Column = struct(
    col("id"), col("timestamp"), col("sequencia"), col("dados"), col("versao"))
}
