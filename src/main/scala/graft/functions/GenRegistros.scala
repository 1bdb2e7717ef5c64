package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import graft.model.SchemaDef
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The `dados` array of one message: `n` registros derived from
  * (seed, sequencia, indice), as one codegen'd expression.
  *
  * The builtin formulation, `transform(sequence(0, n-1), i ->
  * struct(...))`, is an `ArrayTransform`, which is CodegenFallback: every
  * message interprets n × 5 `md5(concat_ws(...))` trees. This
  * expression computes the same bytes in a tight loop with one reused
  * digest per thread:
  *  - texto = the first 100 chars of md5hex(seed␁seq␁i␁texto␁b) for
  *    b = 0..3 ([[GraftFunctions.deterministicText]]);
  *  - numero = pmod(xxhash64(seed, seq, i, "numero"), 1e9) / 1e9 * 1000
  *    ([[GraftFunctions.deterministicUniform]], XXH64 seed 42);
  *  - timestamp = BaseTs + seq;
  *  - uuid = md5hex(seed␁seq␁i␁uuid) as 8-4-4-4-12
  *    ([[GraftFunctions.deterministicUuid]]);
  * where ␁ is [[GraftFunctions.Sep]]. `GeneratorSpec` pins it against
  * the builtin formulation in codegen and interpreted mode.
  *
  * A null `sequencia` yields a null array.
  */
case class GenRegistros(seed: Long, sequencia: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"GenRegistros needs n >= 1, got $n")

  override def child: Expression = sequencia

  override def dataType: DataType = GenRegistros.Type

  override def nullSafeEval(seq: Any): Any = GenRegistros.build(seed, seq.asInstanceOf[Long], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.GenRegistros.build(${seed}L, $s, $n)")

  override protected def withNewChildInternal(c: Expression): GenRegistros = copy(sequencia = c)
}

object GenRegistros {

  /** `array<Registro>`, with `numero` nullable as the builtin `pmod`
    * formulation types it. */
  val Type: DataType = ArrayType(
    StructType(SchemaDef.registroType.map(f =>
      if (f.name == "numero") f.copy(nullable = true) else f)),
    containsNull = false)

  private val TextoLen = 100
  private val Hex = "0123456789abcdef".getBytes(UTF_8)
  private val SepByte = GraftFunctions.Sep.getBytes(UTF_8)
  private val TextoTag = "texto".getBytes(UTF_8)
  private val UuidTag = "uuid".getBytes(UTF_8)
  private val NumeroTag = "numero".getBytes(UTF_8)
  private val XxSeed = 42L // xxhash64's seed

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The first `len` lower-case hex chars of `dig`, into `out` at `at`. */
  private def hexInto(dig: Array[Byte], out: Array[Byte], at: Int, len: Int): Unit = {
    var k = 0
    while (k < len) {
      val b = dig(k >> 1)
      out(at + k) = Hex(if ((k & 1) == 0) (b >> 4) & 0xf else b & 0xf)
      k += 1
    }
  }

  def build(seed: Long, seq: Long, n: Int): ArrayData = {
    val d = md.get()
    val prefix = s"$seed${GraftFunctions.Sep}$seq${GraftFunctions.Sep}".getBytes(UTF_8)
    val seqHash = XXH64.hashLong(seq, XXH64.hashLong(seed, XxSeed))
    val ts = graft.sources.Generator.BaseTs + seq
    val rows = new Array[Any](n)
    var i = 0
    while (i < n) {
      val idx = i.toString.getBytes(UTF_8)
      // starts md5(seed␁seq␁i␁tag…)
      def digestOf(tag: Array[Byte]): Unit = {
        d.reset()
        d.update(prefix)
        d.update(idx)
        d.update(SepByte)
        d.update(tag)
      }
      val texto = new Array[Byte](TextoLen)
      var b = 0
      while (b * 32 < TextoLen) {
        digestOf(TextoTag)
        d.update(SepByte)
        d.update(b.toString.getBytes(UTF_8))
        hexInto(d.digest(), texto, b * 32, math.min(32, TextoLen - b * 32))
        b += 1
      }
      digestOf(UuidTag)
      val h = new Array[Byte](32)
      hexInto(d.digest(), h, 0, 32)
      val uuid = new Array[Byte](36)
      System.arraycopy(h, 0, uuid, 0, 8); uuid(8) = '-'
      System.arraycopy(h, 8, uuid, 9, 4); uuid(13) = '-'
      System.arraycopy(h, 12, uuid, 14, 4); uuid(18) = '-'
      System.arraycopy(h, 16, uuid, 19, 4); uuid(23) = '-'
      System.arraycopy(h, 20, uuid, 24, 12)
      // Spark's Pmod on longs: r, or (r + m) % m when r < 0
      val x = XXH64.hashUnsafeBytes(NumeroTag, Platform.BYTE_ARRAY_OFFSET, NumeroTag.length,
        XXH64.hashInt(i, seqHash))
      val r = x % 1000000000L
      val p = if (r < 0) (r + 1000000000L) % 1000000000L else r
      rows(i) = new GenericInternalRow(Array[Any](
        i, UTF8String.fromBytes(texto), p.toDouble / 1e9 * 1000.0, ts,
        UTF8String.fromBytes(uuid)))
      i += 1
    }
    new GenericArrayData(rows)
  }
}
