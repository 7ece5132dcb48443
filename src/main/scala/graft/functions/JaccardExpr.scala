package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Custom Catalyst expression: Jaccard similarity of two string arrays
  * in one hash-set pass — the imperative twin of
  * `size(array_intersect)/size(array_union)` ([[graft.dedup.Dedup.jaccard]]),
  * which walks both arrays through generic array expressions per pair.
  * Counts are over distinct elements, so the ratio is bit-identical to
  * the built-in composition and the DuckDB oracle (empty∪empty yields
  * 0.0 here, where the ANSI division would error — documented
  * deviation). Codegen-friendly via [[ExprHelpers]].
  */
case class JaccardExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def prettyName: String = GraftFunctions.JaccardName

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)

  override def nullSafeEval(l: Any, r: Any): Any =
    ExprHelpers.jaccard(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ExprHelpers.jaccard($a, $b);")
}

object Jaccard {
  def apply(spark: SparkSession, a: Column, b: Column): Column =
    call_function(GraftFunctions.JaccardName, a, b)
}
