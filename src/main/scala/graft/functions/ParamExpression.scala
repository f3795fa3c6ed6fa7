package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** A long constant that generated code reads from the plan's reference
  * array instead of spelling it into the source.
  *
  * A `Literal` long is inlined into the generated Java, so two plans
  * that differ only in that value compile two classes. An iterative
  * operator whose every round carries a fresh driver-side value (HITS's
  * L1 total) then compiles new code every round, and no codegen cache
  * can help. This expression is not foldable, so the optimizer keeps it
  * as is, and its code is the same whatever the value: rounds whose
  * plans have the same shape reuse the same compiled classes.
  */
case class LongParam(value: Long) extends LeafExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", java.lang.Long.valueOf(value), "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}
