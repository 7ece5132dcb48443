package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: hashed char-3-gram histogram of a
  * document in ONE imperative pass — text → code points → bucket
  * b = ((c1·31 + c2)·31 + c3) mod P mod B per position → (b, nb)
  * counts, emitted sorted by bucket.
  *
  * Semantically identical to the HOF/explode composition it replaces
  * in the T182/T189 family (`transform(sequence(...), ascii(substr(
  * text, i, 1)))` → 3-gram transform → explode → groupBy(b).count):
  * the same integer hash over the same code-point sequence — DuckDB's
  * `ascii(substr(text, i, 1))` is the code point of character i, which
  * is exactly what the code-point walk below produces, so the oracle
  * twin is untouched. Replacing the composition matters twice over:
  * `substr(text, i, 1)` on a UTF8String is O(i) (a scan to code point
  * i), making the codes-array build O(len²) per document — measured
  * ~440M character scans per query at sf0.1 — and the per-position
  * explode + partial aggregation shuffled corpus-sized gram rows that
  * this expression pre-aggregates to per-doc (bucket, count) pairs
  * inside the scan task.
  *
  * The bucket accumulator is a reused thread-local long[B] with a
  * touched-bucket list (B = 4096: zeroing only touched slots keeps the
  * per-row cost proportional to the document, not to B).
  */
case class NGramHistExpr(child: Expression, buckets: Int, prime: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("b", LongType, nullable = false),
      StructField("nb", LongType, nullable = false))),
    containsNull = false)

  override def prettyName: String = GraftFunctions.NGramHistName

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    ExprHelpers.ngramHist(input.asInstanceOf[UTF8String], buckets, prime)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprHelpers.ngramHist($c, $buckets, ${prime}L);")
}

object NGramHist {
  def apply(spark: SparkSession, c: Column): Column =
    call_function(GraftFunctions.NGramHistName, c)
}

private[functions] object NGramHistState {
  // one accumulator per task thread, sized at first use; B is a
  // compile-time constant (4096) for every current caller
  val acc: ThreadLocal[Array[Long]] = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = null
  }
  val touched: ThreadLocal[Array[Int]] = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = null
  }
}
