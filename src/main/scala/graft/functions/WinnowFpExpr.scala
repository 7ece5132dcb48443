package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: winnowing fingerprints (T112, the MOSS
  * scheme) of a document in one imperative pass — whitespace words →
  * positional 3-word shingle hash32s → sliding windows of `w` → each
  * window contributes its MINIMUM hash → first-occurrence distinct
  * array<long>.
  *
  * Semantically identical to the HOF composition it replaces in
  * `Curation4.winnowExplode` (`transform(sequence, md5-hash32 of
  * concat_ws(slice)) → transform(sequence, array_min(slice)) →
  * array_distinct`): same split (Java regex `\s+`, keeping a leading
  * empty token), same md5-prefix hash family (ExprHelpers.h32 == the
  * SQL `conv(substring(md5(..),1,8),16,10)`), same window minima, same
  * first-occurrence distinct order. Fewer than 3 words or fewer than
  * `w` shingles → empty array (the explode drops the doc, exactly like
  * the old pre-filters). The HOF chain evaluated ~300 interpreted
  * lambdas (one md5 each) plus ~290 slice allocations per document.
  */
case class WinnowFpExpr(child: Expression, window: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = GraftFunctions.WinnowFpName

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    ExprHelpers.winnowFp(input.asInstanceOf[UTF8String], window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprHelpers.winnowFp($c, $window);")
}

object WinnowFp {
  def apply(spark: SparkSession, c: Column): Column =
    call_function(GraftFunctions.WinnowFpName, c)
}
