package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level helpers shared by the generator, serde, and queries.
  * All pure built-in compositions (codegen'd, no UDFs).
  */
object GraftFunctions {

  /** The separator the deterministic generators join their md5 inputs
    * with (U+0001, which no input string contains). */
  val Sep = "\u0001"

  /** True integral division — the SQL `div` operator (Catalyst
    * IntegralDivide), NOT `/`-then-cast. On long columns Spark's `/`
    * is double division truncated via cast, which matches DuckDB's
    * `//` only while operands stay under 2^53 and away from float
    * rounding boundaries; `div` computes genuine integer division at
    * any magnitude, so "ALL-INTEGER bucket arithmetic" claims hold
    * bit-for-bit cross-engine (round-9 ADVICE). */
  def idiv(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  /** Deterministic UUID-v4-shaped string derived from a seeded hash —
    * replaces the reference's nondeterministic `UUID.randomUUID()`
    * (reference: util/GeradorCargaEstruturada.java:25,56) so oracle
    * hashing is possible (SURVEY.md §7.4). Layout 8-4-4-4-12 over the
    * md5 hex of the inputs.
    */
  def deterministicUuid(cols: Column*): Column = {
    val h = md5(concat_ws(Sep, cols: _*))
    concat_ws("-",
      substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
      substring(h, 17, 4), substring(h, 21, 12))
  }

  /** Deterministic 100-char text for `Registro.texto`. The reference
    * draws 100 chars uniformly from a 62-char alphabet
    * (util/GeradorCargaEstruturada.java:67-74, unseeded); we derive the
    * chars from chained md5 hex (subset alphabet [0-9a-f], same length
    * and charset-membership) so runs are reproducible. */
  def deterministicText(len: Int, cols: Column*): Column = {
    require(len > 0)
    val blocks = (0 until (len + 31) / 32).map { i =>
      md5(concat_ws(Sep, (cols :+ lit(i)): _*))
    }
    substring(concat(blocks: _*), 1, len)
  }

  /** The deterministic `dados` array of a message (see
    * [[GenRegistros]]). */
  def genRegistros(seed: Long, sequencia: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      GenRegistros(seed, org.apache.spark.sql.graft.ColumnBridge.expression(sequencia), n))

  /** The per-document near-dup sketch `struct<sh, m, n_sh>` of a text
    * column (see [[DocSketch]]). */
  def docSketch(text: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      DocSketch(org.apache.spark.sql.graft.ColumnBridge.expression(text)))

  /** Deterministic uniform double in [0, bound) from a seeded hash —
    * replaces `random.nextDouble() * 1000`
    * (util/GeradorCargaEstruturada.java:23). */
  def deterministicUniform(bound: Double, cols: Column*): Column =
    pmod(xxhash64(cols: _*), lit(1000000000L)).cast("double") / 1e9 * bound

  /** The reference's rough Avro payload size estimator: per registro
    * 4(int) + 8(double) + 8(long) + len(texto) + len(uuid), header
    * fields ignored (reference: aplicacoes/ConsumidorAvro.java:182-191).
    * Kept as a documented compat expression; exact size is
    * `length(to_avro(...))`. */
  def avroSizeEstimate(dados: Column): Column =
    aggregate(dados, lit(0L),
      (acc, r) => acc + lit(20L) + length(r.getField("texto")) + length(r.getField("uuid")))

  /** Confluent wire-format framing: magic byte 0x00 + 4-byte big-endian
    * schema id, then the Avro body (public Confluent wire format; the
    * reference's registry serializer emits it —
    * util/ConfiguracaoKafka.java:150-156). */
  def confluentWrap(avroBody: Column, schemaId: Int): Column = {
    val header = Array[Byte](
      0,
      ((schemaId >> 24) & 0xff).toByte, ((schemaId >> 16) & 0xff).toByte,
      ((schemaId >> 8) & 0xff).toByte, (schemaId & 0xff).toByte)
    concat(lit(header), avroBody)
  }

  /** Strip the 5-byte Confluent header to recover the raw Avro body
    * (substring on binary, 1-based offset 6 to end). */
  def confluentStrip(wire: Column): Column =
    substring(wire, 6, Int.MaxValue)

  /** Schema id from a Confluent-framed value (big-endian int at bytes 2-5). */
  def confluentSchemaId(wire: Column): Column = {
    def b(i: Int) = conv(hex(substring(wire, i, 1)), 16, 10).cast("long")
    (b(2) * 16777216L + b(3) * 65536L + b(4) * 256L + b(5)).cast("int")
  }
}
