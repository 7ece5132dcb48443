package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: distinct-element intersection and union
  * sizes of two arrays in ONE hash-set pass —
  * struct(inter BIGINT, uni BIGINT), the exact integer pair the
  * PPJoin-family verifies cross-multiply against the threshold.
  *
  * Semantically identical to the built-in composition
  * `size(array_intersect(a, b))` / `size(array_union(a, b))` (both
  * count DISTINCT elements; null elements are counted like any other
  * value, matching the built-ins' null-aware set semantics), but the
  * composition walks both arrays TWICE through generic per-element
  * expression dispatch and builds four hash tables; this builds two.
  * Measured on q106's 310k-candidate verify at sf0.1: 9.4 → 5.9 s.
  * Supports string and long element types — the two the verify family
  * uses (word shingles; hashed shingles/minhash lattices).
  */
case class InterUnionExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("inter", LongType, nullable = false),
    StructField("uni", LongType, nullable = false)))

  override def prettyName: String = GraftFunctions.InterUnionName

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)

  // Analysis-time validation (ADVICE r16): both children must be
  // arrays of the SAME supported element type — a mismatched or
  // unsupported right side must fail analysis like the built-ins do,
  // not at execution (or worse, misread long data as strings).
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) |
           (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"${GraftFunctions.InterUnionName} requires two array<string> " +
            s"or two array<bigint> arguments, got ${l.sql} and ${r.sql}")
    }

  private lazy val isString = left.dataType match {
    case ArrayType(StringType, _) => true
    case ArrayType(LongType, _) => false
    case other => throw new IllegalArgumentException(
      s"${GraftFunctions.InterUnionName}: unsupported element type $other")
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    if (isString)
      ExprHelpers.interUnionStr(l.asInstanceOf[ArrayData],
        r.asInstanceOf[ArrayData])
    else
      ExprHelpers.interUnionLong(l.asInstanceOf[ArrayData],
        r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = if (isString) "interUnionStr" else "interUnionLong"
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ExprHelpers.$m($a, $b);")
  }
}

object InterUnion {
  def apply(spark: SparkSession, a: Column, b: Column): Column =
    call_function(GraftFunctions.InterUnionName, a, b)
}
