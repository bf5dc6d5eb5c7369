package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** MinHash signature over 3-word shingles in ONE compiled pass: split →
  * shingle → md5 → k permutation mins, with no intermediate array columns
  * (the HOF formulation materializes the shingle array, an md5-hex array,
  * and two 60-bit-half arrays per row).
  *
  * Value-compatible with the SQL/DuckDB oracle formulation by
  * construction:
  *   - tokens: split on a single space keeping empty tokens (Spark
  *     `split(text, ' ')` / DuckDB `string_split`) — `String.split(" ", -1)`;
  *   - shingle i = tokens[i..i+2] joined with ' ';
  *   - h1 = first 15 md5-hex chars as a 60-bit int (== top 60 bits of the
  *     first 8 digest bytes), h2 = hex chars 17..31 (== top 60 bits of
  *     bytes 8..15): `hash60` halves 0 and 1, read by the same helper
  *     (`Hash60.prefix60`);
  *   - permutation j = min over shingles of h1 ^ (j * h2).
  *
  * Returns array<bigint> of length k, or NULL when the text has fewer than
  * 3 tokens (matching `list_min([])` / `array_min(array())` = NULL).
  *
  * Codegen: the kernel lives in the companion's static `compute` (md5 via
  * MessageDigest isn't worth inlining as Java source); `doGenCode` emits a
  * single static call, so the expression stays inside the surrounding
  * WholeStageCodegen span instead of forcing interpreted fallback.
  */
case class MinHashShingleSig(child: Expression, k: Int = 4)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig needs a string input, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    MinHashShingleSig.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val arrCls = classOf[ArrayData].getName
    ev.copy(code =
      code"""
        ${childGen.code}
        boolean ${ev.isNull} = true;
        $arrCls ${ev.value} = null;
        if (!${childGen.isNull}) {
          ${ev.value} = graft.functions.MinHashShingleSig.compute(${childGen.value}, $k);
          ${ev.isNull} = (${ev.value} == null);
        }
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashShingleSig {
  import org.apache.spark.sql.graft.shims.{column, expression}

  /** Static kernel, called from both interpreted eval and generated code
    * (Scala emits a static forwarder on the companion class).
    */
  def compute(input: UTF8String, k: Int): ArrayData = {
    val words = input.toString.split(" ", -1)
    if (words.length < 3) return null
    val mins = Array.fill(k)(Long.MaxValue)
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i <= words.length - 3) {
      sb.setLength(0)
      sb.append(words(i)).append(' ').append(words(i + 1)).append(' ')
        .append(words(i + 2))
      val d = Hash60.digest(java.nio.ByteBuffer.wrap(sb.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8)))
      // hash60 halves 0 and 1 == the 15-hex-char prefixes the SQL
      // formulation parses.
      val h1 = Hash60.prefix60(d, 0)
      val h2 = Hash60.prefix60(d, 8)
      var j = 0
      while (j < k) {
        val v = h1 ^ (j.toLong * h2)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  def minhash_sig(text: Column, k: Int = 4): Column =
    column(MinHashShingleSig(expression(text), k))
}
