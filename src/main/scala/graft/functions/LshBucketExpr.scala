package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType}

/** Custom Catalyst expression: sign-pattern LSH bucket of a 64-dim
  * double vector over nPlanes LCG-derived hyperplanes — the imperative
  * twin of [[graft.similarity.Vectors.lshBucket]] (which pays ~nPlanes×64
  * interpreted lambda evals per row). Bit-identical coefficients and
  * fold order, asserted in DedupSpec/VectorsSpec. Codegen-friendly via
  * [[ExprHelpers]].
  */
case class LshBucketExpr(child: Expression, nPlanes: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def prettyName: String = GraftFunctions.LshBucketName

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    ExprHelpers.lshBucket(input.asInstanceOf[ArrayData], nPlanes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprHelpers.lshBucket($c, $nPlanes);")
}

object LshBucket {
  /** Column accessor for the injected `graft_lsh_bucket`. */
  def apply(spark: SparkSession, vec: Column): Column =
    call_function(GraftFunctions.LshBucketName, vec)
}
