package graft.functions

import graft.llmops.TextOps
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The near-dup sketch of one document's `text`, as one codegen'd
  * expression: `struct<sh, m, n_sh>` with
  *  - sh = the distinct token trigrams `tk␠t2␠t3`, in first-occurrence
  *    order, over the tokens of `split(text, "\\s+")` (the same
  *    `UTF8String.split(pattern, -1)` call Spark's `split` makes);
  *  - m(j) = min over sh of (h·a_j + b_j) mod P for the k MinHash
  *    permutations of [[TextOps]], with h = the first 15 md5 hex digits
  *    of the trigram as a 60-bit integer mod P ([[TextOps.baseHash]]);
  *  - n_sh = |sh|.
  * Null when `text` is null or has fewer than 3 tokens, the documents
  * the exploded formulation (posexplode → two leads → distinct → md5 →
  * min) gives no row. Row-local: no exploded row, no shuffle, one
  * digest per distinct trigram with one reused digest per thread.
  * `DocSketchSpec` pins it against the exploded formulation in codegen
  * and interpreted mode.
  */
case class DocSketch(text: Expression) extends UnaryExpression {

  override def child: Expression = text

  override def dataType: DataType = DocSketch.Type

  override def nullable: Boolean = true

  override def nullSafeEval(t: Any): Any = DocSketch.build(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"""${ev.value} = graft.functions.DocSketch.build($t);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(c: Expression): DocSketch = copy(text = c)
}

object DocSketch {

  val Type: StructType = StructType(Seq(
    StructField("sh", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("m", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("n_sh", LongType, nullable = false)))

  private val Ws = UTF8String.fromString("\\s+")
  private val Space = UTF8String.fromString(" ")
  private val P = TextOps.MinhashP
  private val A = Array.tabulate(TextOps.MinhashK)(TextOps.aj)
  private val B = Array.tabulate(TextOps.MinhashK)(TextOps.bj)

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 md5 hex digits of `s` as a 60-bit integer, mod P. */
  private def baseHash(d: java.security.MessageDigest, s: UTF8String): Long = {
    val dig = d.digest(s.getBytes)
    var top = 0L
    var i = 0
    while (i < 8) { top = (top << 8) | (dig(i) & 0xffL); i += 1 }
    (top >>> 4) % P
  }

  def build(text: UTF8String): InternalRow = {
    val w = text.split(Ws, -1)
    if (w.length < 3) return null
    val seen = new java.util.HashSet[UTF8String](w.length * 2)
    val sh = new java.util.ArrayList[UTF8String](w.length)
    var i = 0
    while (i + 2 < w.length) {
      val g = UTF8String.concatWs(Space, w(i), w(i + 1), w(i + 2))
      if (seen.add(g)) sh.add(g)
      i += 1
    }
    val d = md.get()
    val m = Array.fill(A.length)(Long.MaxValue)
    val out = new Array[Any](sh.size)
    var k = 0
    while (k < out.length) {
      val g = sh.get(k)
      out(k) = g
      val h = baseHash(d, g)
      var j = 0
      while (j < m.length) {
        val v = (h * A(j) + B(j)) % P
        if (v < m(j)) m(j) = v
        j += 1
      }
      k += 1
    }
    new GenericInternalRow(Array[Any](
      new GenericArrayData(out), UnsafeArrayData.fromPrimitiveArray(m), out.length.toLong))
  }
}
