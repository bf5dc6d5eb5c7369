package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `hash60(s[, half])` — the md5→60-bit kernel as a native Catalyst
  * expression: the top 60 bits of md5(UTF-8 bytes of s), digest bytes 0–7
  * (half 0) or 8–15 (half 1), as a non-negative BIGINT. A null input gives
  * null.
  *
  * Bit-identical to the string-parse chain it replaces,
  * `CAST(conv(substr(md5(s), 1 | 17, 15), 16, 10) AS BIGINT)`: 15 hex
  * chars are exactly the top 60 bits of 8 digest bytes. The DuckDB oracle
  * twin keeps `('0x' || substr(md5(s), 1 | 17, 15))::BIGINT`. Parsing the
  * hex digest back into a number costs more than the digest itself; this
  * reads the 16 digest bytes directly.
  *
  * Codegen: like `MinHashShingleSig`, one static kernel (`compute`) serves
  * interpreted eval and generated code, so the expression stays inside its
  * WholeStageCodegen span.
  */
case class Hash60(child: Expression, half: Int = 0) extends UnaryExpression {
  require(half == 0 || half == 1, s"hash60 half must be 0 or 1, got $half")

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hash60 needs a string input, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    Hash60.compute(input.asInstanceOf[UTF8String], half)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Hash60.compute($c, $half)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Hash60 {
  import org.apache.spark.sql.graft.shims.{column, expression}

  /** One MD5 engine and digest buffer per task thread. */
  private final class Md5 {
    val md: java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Byte](16)
  }
  private val md5 = ThreadLocal.withInitial[Md5](() => new Md5)

  /** md5 of `bytes`, into a per-thread 16-byte buffer that the next call
    * on the same thread overwrites. */
  private[functions] def digest(bytes: java.nio.ByteBuffer): Array[Byte] = {
    val m = md5.get()
    m.md.update(bytes)
    m.md.digest(m.out, 0, 16)
    m.out
  }

  /** The top 60 bits of the 8 big-endian digest bytes at `off` — what
    * `conv` reads from the 15 hex chars starting at char `2 * off + 1`. */
  private[functions] def prefix60(d: Array[Byte], off: Int): Long = {
    var l = 0L
    var b = 0
    while (b < 8) {
      l = (l << 8) | (d(off + b) & 0xffL)
      b += 1
    }
    l >>> 4
  }

  /** Static kernel, called from both interpreted eval and generated code
    * (Scala emits a static forwarder on the companion class). */
  def compute(s: UTF8String, half: Int): Long =
    prefix60(digest(s.getByteBuffer), 8 * half)

  def hash60(s: Column, half: Int = 0): Column =
    column(Hash60(expression(s), half))
}
