package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd 48-bit MD5 hash: the top 48 bits of md5(utf8-bytes),
  * i.e. the first 6 digest bytes big-endian — numerically IDENTICAL to the
  * portable spelling `conv(substring(md5(v), 1, 12), 16, 10)` it replaces
  * (the first 12 lowercase-hex digits ARE the first 6 bytes; Round22Spec
  * pins bit-equality over fixture values and edge cases).
  *
  * Why (guide §4 / §1.2 step 2 — per-task work in the hot path): the old
  * chain paid, PER VALUE, a 32-char hex render inside Spark's `Md5`
  * (commons-codec, which also constructs a new MessageDigest each call), a
  * 12-char `substring` copy, and `conv`'s generic radix-16 string parse.
  * This expression digests the UTF-8 bytes with a thread-cached
  * MessageDigest and assembles the long directly. It sits under every NDV
  * sketch build (q94/q96/q99/q101/q104's per-(row x column) catalog hash),
  * t36's per-token DSIR hash, and the q88/q95 CMS grids — full-corpus
  * passes at 100 TB. Measured in OPTIMIZATION_r22.md (sf0.1 lineitem,
  * noop sink): the long-form+hash pass 5.93 -> 2.20 s, the full fused
  * ANALYZE aggregate 8.81 -> 3.75 s; bench min2warm at 32 cores:
  * q99 10.01 -> 5.68 s, q96 2.16 -> 1.52 s, q88 1.06 -> 0.62 s.
  */
case class Md5Hash48(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  // a non-string child fails analysis with a type-mismatch message instead
  // of a ClassCastException from nullSafeEval at run time (the element type
  // is Spark's AbstractDataType, which is private to its sql package)
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "md5_hash48"

  override def nullSafeEval(input: Any): Any =
    Md5Hash48.hash48(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Md5Hash48.hash48($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Hash48 {

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Top 48 bits of md5 over the string's UTF-8 bytes (always in
    * [0, 2^48), so the long is non-negative — same range as the conv
    * spelling). Called from generated code via the static forwarder.
    */
  def hash48(s: UTF8String): Long = {
    val d = md.get()
    d.reset()
    val digest = d.digest(s.getBytes)
    ((digest(0) & 0xffL) << 40) | ((digest(1) & 0xffL) << 32) |
      ((digest(2) & 0xffL) << 24) | ((digest(3) & 0xffL) << 16) |
      ((digest(4) & 0xffL) << 8) | (digest(5) & 0xffL)
  }

  /** Column-API entry point; the cast matches the old spelling's
    * `v.cast("string")` exactly (numbers render decimally, strings pass
    * through, NULL propagates).
    */
  def md5Hash48(v: Column): Column =
    ColumnBridge.column(Md5Hash48(ColumnBridge.expression(v.cast("string"))))
}
