package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}

/** A long constant that generated code reads from the plan's reference
  * array instead of inlining it. Spark inlines a numeric literal into the
  * generated source, and its codegen cache is keyed by that source, so a
  * plan rebuilt with another bound (a new z-order grid, another box)
  * compiles new classes; with the value in a reference, every such plan
  * reuses the same ones. It is not foldable, so the optimizer keeps it a
  * leaf and data sources get no pushed-down predicate on it. */
case class PlanConstant(value: Long) extends LeafExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planConstant", java.lang.Long.valueOf(value),
      "java.lang.Long")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.expression(s"$ref.longValue()", LongType))
  }
}

object PlanConstant {
  def column(value: Long): Column = ColumnBridge.column(PlanConstant(value))
}
