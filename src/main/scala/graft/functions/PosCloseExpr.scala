package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{BooleanType, DataType}

/** Custom Catalyst expression: true iff two ASCENDING integer position
  * lists contain a pair within `d` of each other — the Ed-Join
  * location-based filter's join predicate, evaluated once per
  * gram-equal candidate pair (millions of times per join). The HOF
  * form `exists(a, pa -> exists(b, pb -> abs(pa-pb) <= d))` runs two
  * interpreted lambdas per element pair; this is a codegen'd
  * two-pointer walk, O(|a|+|b|). Inputs are the `filter(sequence(...))`
  * position lists, ascending by construction.
  */
case class PosCloseExpr(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = BooleanType

  override def prettyName: String = GraftFunctions.PosCloseName

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def nullSafeEval(a: Any, b: Any, d: Any): Any =
    ExprHelpers.posClose(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], d.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, d) =>
      s"${ev.value} = graft.functions.ExprHelpers.posClose($a, $b, $d);")
}

object PosClose {
  def apply(spark: SparkSession, a: Column, b: Column, d: Column): Column =
    call_function(GraftFunctions.PosCloseName, a, b, d)
}
