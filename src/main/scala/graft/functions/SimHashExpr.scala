package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: 32-bit SimHash of a document in one
  * imperative pass (text → tokens → md5-hash32 per token → per-bit vote
  * → digest). Bit-identical to [[graft.dedup.Dedup.simhash32]] (the HOF
  * composition pays ~32×tokens interpreted lambda evals per row) and to
  * the DuckDB oracle; equivalence asserted in DedupSpec. Codegen-friendly
  * via [[ExprHelpers]].
  */
case class SimHashExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def prettyName: String = GraftFunctions.SimhashName

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    ExprHelpers.simhash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprHelpers.simhash($c);")
}

object SimHash {
  def apply(spark: SparkSession, text: Column): Column =
    call_function(GraftFunctions.SimhashName, text)
}
