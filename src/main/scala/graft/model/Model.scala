package graft.model

import org.apache.spark.sql.types._

/** One element of `MensagemCarga.dados`.
  *
  * Logical schema per the reference's Avro record `Registro`
  * (reference: src/main/resources/avro/MensagemCarga.avsc:13-25;
  * generator behavior: util/GeradorCargaEstruturada.java:18-31).
  */
final case class Registro(
    indice: Int,       // 0-based index within dados
    texto: String,     // 100 chars drawn from [A-Za-z0-9]
    numero: Double,    // uniform [0, 1000)
    timestamp: Long,   // epoch millis
    uuid: String       // UUID v4 formatted string
)

/** The reference's message payload — one row of the load stream.
  *
  * (reference: src/main/resources/avro/MensagemCarga.avsc:1-30)
  */
final case class MensagemCarga(
    id: String,            // UUID per message
    timestamp: Long,       // epoch millis at creation
    sequencia: Long,       // 1-based sequence number
    dados: Seq[Registro],
    versao: String         // "1.0"
)

/** Flat benchmark metrics report with a STABLE field order (the
  * reference emits a Gson HashMap with unstable order —
  * util/MetricasDesempenho.java:80-105; we pin the order).
  * `%.2f`-formatted fields are carried as strings exactly like the
  * reference report.
  */
final case class MetricsReport(
    totalMensagens: Long,
    mensagensSucesso: Long,
    mensagensComErro: Long,
    totalBytes: Long,
    totalMB: String,
    duracaoMs: Long,
    duracaoSegundos: String,
    throughputMensagensPorSegundo: String,
    throughputMBPorSegundo: String,
    tempoPorMensagemMs: String,
    taxaSucessoPorcentagem: String,
    timestampInicio: Long,
    timestampFim: Long,
    threadsConsumidor: Int,
    tamanhoMensagemKB: Int,
    modoBenchmark: String,
    compressaoProdutor: String
)

/** Typed engine configuration mirroring the reference's env surface
  * (names and defaults from util/ConfiguracaoKafka.java:34-124).
  */
final case class EngineConf(
    totalMensagens: Long = 10_000_000L,     // TOTAL_MENSAGENS
    tamanhoMensagemKB: Int = 2048,          // TAMANHO_MENSAGEM_KB
    numParticoes: Int = 18,                 // NUM_PARTICOES
    consumerThreads: Int = 18,              // CONSUMER_THREADS (default = partitions)
    benchMode: String = "E2E_PARSE",        // BENCH_MODE: E2E_PARSE | TRANSPORTE
    compressionType: String = "lz4",        // COMPRESSION_TYPE
    warmupMensagens: Long = 0L,             // WARMUP_MENSAGENS
    seed: Long = 42L                        // engine addition: determinism
) {
  /** Sizing rule: each Registro is assumed ~200 serialized bytes
    * (reference: util/GeradorCargaEstruturada.java:49-50,62-64). */
  def registrosPorMensagem: Int = math.max(1, tamanhoMensagemKB * 1024 / 200)

  /** This configuration, or an `IllegalArgumentException` naming the
    * first out-of-range setting by its environment name and value: a
    * partition count of 0 would route every message to a null
    * partition, and a negative count would silently produce nothing. */
  def validate(): EngineConf = {
    def atLeast(name: String, v: Long, min: Long): Unit =
      require(v >= min, s"$name=$v must be >= $min")
    atLeast("NUM_PARTICOES", numParticoes, 1)
    atLeast("CONSUMER_THREADS", consumerThreads, 1)
    atLeast("TAMANHO_MENSAGEM_KB", tamanhoMensagemKB, 1)
    atLeast("TOTAL_MENSAGENS", totalMensagens, 0)
    atLeast("WARMUP_MENSAGENS", warmupMensagens, 0)
    this
  }
}

object EngineConf {
  /** Read from env with the reference's names/defaults, then
    * [[EngineConf.validate]]. A set value that does not parse fails
    * with its name and value. */
  def fromEnv(env: Map[String, String] = sys.env): EngineConf = {
    def num[T](k: String, d: T)(parse: String => Option[T]): T = env.get(k) match {
      case None => d
      case Some(v) => parse(v.trim).getOrElse(
        throw new IllegalArgumentException(s"$k='$v' is not an integer"))
    }
    def l(k: String, d: Long) = num(k, d)(_.toLongOption)
    def i(k: String, d: Int)  = num(k, d)(_.toIntOption)
    def s(k: String, d: String) = env.getOrElse(k, d)
    val parts = i("NUM_PARTICOES", 18)
    EngineConf(
      totalMensagens    = l("TOTAL_MENSAGENS", 10_000_000L),
      tamanhoMensagemKB = i("TAMANHO_MENSAGEM_KB", 2048),
      numParticoes      = parts,
      consumerThreads   = i("CONSUMER_THREADS", parts),
      benchMode         = s("BENCH_MODE", "E2E_PARSE"),
      compressionType   = s("COMPRESSION_TYPE", "lz4"),
      warmupMensagens   = l("WARMUP_MENSAGENS", 0L),
      seed              = l("GRAFT_SEED", 42L)
    ).validate()
  }
}

/** Canonical schemas for the payload, shared by generator, serde, and
  * readers. The Avro JSON schema mirrors the reference's
  * MensagemCarga.avsc semantics (not a file copy).
  */
object SchemaDef {

  val registroType: StructType = StructType(Seq(
    StructField("indice", IntegerType, nullable = false),
    StructField("texto", StringType, nullable = false),
    StructField("numero", DoubleType, nullable = false),
    StructField("timestamp", LongType, nullable = false),
    StructField("uuid", StringType, nullable = false)
  ))

  /** Spark StructType of the payload (MensagemCarga.avsc:1-30). */
  val mensagemType: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("timestamp", LongType, nullable = false),
    StructField("sequencia", LongType, nullable = false),
    StructField("dados", ArrayType(registroType, containsNull = false), nullable = false),
    StructField("versao", StringType, nullable = false)
  ))

  /** The offline topic dir `graft.Main` produce writes and consume
    * reads (`messages_raw_{avro,json}`): the record envelope, the
    * serialized `valor` (Avro binary or JSON text), and the `particao`
    * directory column last, all nullable, as a parquet read infers it. */
  def topicType(avro: Boolean): StructType = StructType(Seq(
    StructField("chave", StringType),
    StructField("sequencia", LongType),
    StructField("timestamp", LongType),
    StructField("sucesso", BooleanType),
    StructField("valor", if (avro) BinaryType else StringType),
    StructField("particao", IntegerType)))

  /** Avro record schema (JSON) semantically equivalent to the
    * reference's .avsc — field names, types, order, and the `versao`
    * default all match (MensagemCarga.avsc:1-30). */
  val mensagemAvroJson: String =
    """{
      |  "type": "record", "name": "MensagemCarga", "namespace": "graft",
      |  "fields": [
      |    {"name": "id", "type": "string"},
      |    {"name": "timestamp", "type": "long"},
      |    {"name": "sequencia", "type": "long"},
      |    {"name": "dados", "type": {"type": "array", "items": {
      |      "type": "record", "name": "Registro", "fields": [
      |        {"name": "indice", "type": "int"},
      |        {"name": "texto", "type": "string"},
      |        {"name": "numero", "type": "double"},
      |        {"name": "timestamp", "type": "long"},
      |        {"name": "uuid", "type": "string"}
      |      ]}}},
      |    {"name": "versao", "type": "string", "default": "1.0"}
      |  ]
      |}""".stripMargin

  /** Envelope (Kafka-record analogue) around the payload, as stored in
    * the `messages` fixture table: chave/particao per
    * ProdutorAvro.java:67-68, byte sizes per both serde paths. */
  val envelopeType: StructType = StructType(Seq(
    StructField("sequencia", LongType, nullable = false),
    StructField("chave", StringType, nullable = false),
    StructField("particao", IntegerType, nullable = false),
    StructField("id", StringType, nullable = false),
    StructField("timestamp", LongType, nullable = false),
    StructField("versao", StringType, nullable = false),
    StructField("dados", ArrayType(registroType, containsNull = false), nullable = false),
    StructField("bytes_avro", LongType, nullable = false),
    StructField("bytes_json", LongType, nullable = false),
    StructField("sucesso", BooleanType, nullable = false)
  ))
}
