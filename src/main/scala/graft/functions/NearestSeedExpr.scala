package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructType}

/** Custom Catalyst expression: nearest-seed (squared-L2 argmin) cluster
  * assignment of a vector against a codebook array — the assignment
  * kernel of q114/q115/q120 and the probe families. The HOF composition
  * (`aggregate` over `sqDist` `zip_with` folds) is semantically
  * identical but interpreted: each seed step allocates an accumulator
  * struct and evaluates k×dim lambda closures per row, which made
  * large-k assignment wall-bound. This expression is one codegen'd
  * imperative pass (k×dim multiply-adds, zero allocation); tie-break
  * (strict `<` over the sid-sorted array) matches the HOF and the
  * oracle's ORDER BY dist, seed_id exactly — equivalence is spec'd in
  * EmbeddingsSpec and hash-checked by the q114/q115/q120 oracles.
  */
case class NearestSeedExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def prettyName: String = GraftFunctions.NearestSeedName

  /** The function is SQL-registered for arbitrary user text, so type
    * shape is enforced at analysis time (an `array<float>` query vector
    * would otherwise make the kernel read wrong bytes via
    * `ArrayData.getDouble` and return wrong cluster ids silently).
    * Struct FIELD NAMES are deliberately not constrained — any
    * `struct<bigint, array<double>>` seed shape works.
    */
  override def checkInputDataTypes(): TypeCheckResult = {
    def fail(msg: String) = TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, array<struct<bigint, array<double>>>): $msg")
    left.dataType match {
      case ArrayType(DoubleType, _) =>
        right.dataType match {
          case ArrayType(StructType(fs), _)
              if fs.length == 2 && fs(0).dataType == LongType &&
                (fs(1).dataType match {
                  case ArrayType(DoubleType, _) => true; case _ => false
                }) => TypeCheckResult.TypeCheckSuccess
          case other => fail(s"seed side is ${other.sql}")
        }
      case other => fail(s"query side is ${other.sql}")
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(e: Any, seeds: Any): Any =
    ExprHelpers.nearestSeed(e.asInstanceOf[ArrayData],
      seeds.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ExprHelpers.nearestSeed($a, $b);")
}

object NearestSeed {
  def apply(spark: SparkSession, e: Column, seeds: Column): Column =
    call_function(GraftFunctions.NearestSeedName, e, seeds)
}
