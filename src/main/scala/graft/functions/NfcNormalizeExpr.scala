package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: Unicode NFC canonicalization. The
  * curation step that must precede any hash-based dedup on multilingual
  * text — "Café" with a precomposed é and with e+U+0301 are the same
  * document to a reader but different byte strings to every digest,
  * minhash and simhash in the engine. Spark has no built-in normalizer;
  * a codegen'd expression keeps the pass inside WholeStageCodegen (and
  * the `isNormalized` fast path makes already-NFC text — virtually all
  * of a real corpus — allocation-free). DuckDB twin: `nfc_normalize`,
  * equivalence oracle-checked (q123).
  */
case class NfcNormalizeExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  /** SQL-registered for arbitrary user text → non-string input must fail
    * at analysis, not produce a ClassCastException mid-task.
    * (AbstractDataType is private[sql] in Spark 4, so the check is
    * spelled out instead of mixing in ExpectsInputTypes.)
    */
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.sql}")

  override def prettyName: String = GraftFunctions.NfcName

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    ExprHelpers.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprHelpers.nfc($c);")
}

object NfcNormalize {
  def apply(spark: SparkSession, text: Column): Column =
    call_function(GraftFunctions.NfcName, text)
}
