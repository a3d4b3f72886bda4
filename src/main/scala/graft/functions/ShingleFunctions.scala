package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-gram shingles of a token array in ONE walk — the twin
  * of [[graft.operators.TextAnalysis.shinglesHof]]'s Column algebra
  * (`array_distinct(transform(sequence(0, size − n), i →
  * concat_ws(" ", slice(toks, i + 1, n))))`), whose lambda is a
  * higher-order function and so runs on Catalyst's interpreted path for
  * every window of every row. This expression joins each window once and
  * keeps the first occurrence of each gram in a hash set.
  *
  * Semantics are identical to the algebra (spec-pinned, codegen and
  * interpreted, ANSI on and off):
  *   - gram p joins tokens p until p + n − 1 with single spaces, skipping
  *     NULL elements (`concat_ws`); a window of only NULLs joins to "";
  *   - grams keep first-occurrence order (`array_distinct`);
  *   - a NULL array or one shorter than n gives an empty array, never NULL.
  * `n` must be at least 1: the algebra's output for n = 0 (a lone ""
  * gram) is not a shingle set.
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, s"shingle width must be at least 1, got $n")

  // containsNull = true: the algebra's type, so written schemas do not move
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false

  @transient private lazy val space: UTF8String = UTF8String.fromString(" ")

  def compute(arr: ArrayData): ArrayData = {
    val len = if (arr == null) 0 else arr.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      if (!arr.isNullAt(i)) toks(i) = arr.getUTF8String(i)
      i += 1
    }
    val windows = len - n + 1
    val seen = new java.util.HashSet[UTF8String](windows * 2)
    val out = new Array[Any](windows)
    val window = new Array[UTF8String](n)
    var k = 0
    var p = 0
    while (p < windows) {
      System.arraycopy(toks, p, window, 0, n)
      val gram = UTF8String.concatWs(space, window: _*)
      if (seen.add(gram)) { out(k) = gram; k += 1 }
      p += 1
    }
    new GenericArrayData(if (k == windows) out else out.take(k))
  }

  override def eval(input: InternalRow): Any =
    compute(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordShingles", this, classOf[WordShingles].getName)
    val childGen = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${childGen.code}
        ${CodeGenerator.javaType(dataType)} ${ev.value} = $ref.compute(
          ${childGen.isNull} ? null : ${childGen.value});
        """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
