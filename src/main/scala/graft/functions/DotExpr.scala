package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Custom Catalyst expression: sequential-fold dot product of two
  * `array<double>` columns — the codegen'd kernel for the similarity
  * family's hot pair-scoring paths (T191 graph build scores ~1.9M
  * 64-dim pairs; the HOF form runs its lambdas interpreted at ~150k
  * folds/s, this JITs the loop). Fold order is IDENTICAL to
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)`
  * ([[graft.similarity.Vectors.dot]]) and to the DuckDB oracle's
  * `list_reduce`, so the accumulated IEEE double is bit-for-bit the
  * same at every input — EmbeddingsSpec referees the equivalence over
  * every corpus pair. Null on length mismatch or null elements, the
  * HOF's observable null semantics.
  */
case class DotExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = GraftFunctions.DotName

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)

  override def nullSafeEval(l: Any, r: Any): Any =
    ExprHelpers.dotSeq(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("dotRes")
      s"""java.lang.Double $tmp = graft.functions.ExprHelpers.dotSeq($a, $b);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }""".stripMargin
    })
}

object Dot {
  def apply(spark: SparkSession, a: Column, b: Column): Column =
    call_function(GraftFunctions.DotName, a, b)
}
