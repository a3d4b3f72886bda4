package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** A per-batch long constant that generated code reads from the plan's
  * reference array instead of inlining.
  *
  * A `lit(v)` of a long (or a date) is written into the generated Java as
  * `vL`, so a plan that differs from the last one only in such a value —
  * the same cron plan on the next batch id, or the next day's expiry
  * targets — is new source to the codegen cache and compiles again. This
  * expression's source is the same for every value, so the next batch
  * reuses the compiled class. It is not foldable, which keeps the
  * optimizer from turning it back into a literal; `eval` gives the same
  * value, and it is never NULL.
  */
case class BatchConstant(value: Long) extends LeafExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("batchConstant", this, classOf[BatchConstant].getName)
    ev.copy(code = code"final long ${ev.value} = $ref.value();", isNull = FalseLiteral)
  }
}

object BatchConstant {

  /** The constant as a Column. */
  def column(value: Long): Column = GraftSqlBridge.column(BatchConstant(value))
}
