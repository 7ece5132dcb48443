package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions replacing the three hottest interpreted
  * higher-order-function chains left on the r17 board (round-16's
  * standing lesson: every `transform`/`filter` lambda runs through the
  * interpreted expression evaluator PER ELEMENT — an allocation storm
  * that a memory-weaker box amplifies into the VERDICT-r16 "32-core
  * inversion" profile — while a static-call expression JITs and keeps
  * the whole stage in one codegen span).
  *
  * Each is bit-identical to the HOF composition it replaces on
  * non-NULL input; the DuckDB oracle SQL is untouched, so the
  * cross-engine hash checks prove the equivalences on every corpus.
  * On a NULL input every expression here returns NULL, where the HOF
  * builders of [[FingerprintExpr]] and [[LangIdExpr]] returned 0 and
  * "und" (`TextFunctions.fingerprint` / `langIdHeuristic`).
  */

/** Elementwise md5-prefix hash32 of a string array in one pass.
  * mode 1 = array_distinct(transform(arr, hash32)) (first-occurrence
  * order); mode 2 = array_sort(transform(arr, hash32)); mode 3 =
  * array_sort(array_distinct(transform(arr, hash32))).
  */
case class Hash32ArrayExpr(child: Expression, mode: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def prettyName: String = mode match {
    case 1 => GraftFunctions.Hash32DistinctName
    case 2 => GraftFunctions.Hash32SortedName
    case _ => GraftFunctions.Hash32SortedDistinctName
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string>, got ${other.sql}")
    }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    ExprHelpers.hash32Array(input.asInstanceOf[ArrayData], mode)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprHelpers.hash32Array($c, $mode);")
}

/** Stopword-profile language ID (the q40/q177 heuristic) in one
  * tokenization pass — replaces 4 interpreted `filter(ws, isin(...))`
  * lambda walks + an array_max over scoring structs per document.
  */
case class LangIdExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def prettyName: String = GraftFunctions.LangIdName

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string, got ${other.sql}")
    }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    ExprHelpers.langId(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprHelpers.langId($c);")
}

/** Content-defined chunk digests (q202's FastCDC-style word chunker)
  * in one pass — replaces the per-word hash transform + boundary
  * filter + per-chunk slice/concat/md5 transform HOF chain.
  */
case class CdcChunksExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = GraftFunctions.CdcChunksName

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string, got ${other.sql}")
    }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    ExprHelpers.cdcChunks(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprHelpers.cdcChunks($c);")
}

/** Rolling polynomial document fingerprint (fold((acc·31 + cp) mod P)
  * over code points) — replaces an aggregate-over-sequence HOF whose
  * substr(c, i, 1) step made it O(len²) per string.
  */
case class FingerprintExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def prettyName: String = GraftFunctions.FingerprintName

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string, got ${other.sql}")
    }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    ExprHelpers.fingerprint(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprHelpers.fingerprint($c);")
}

/** Per-token hashed-feature buckets (fingerprint(w) mod buckets) in one
  * pass — the T42/DSIR feature map without per-token interpreted folds.
  */
case class HashedBucketsExpr(child: Expression, buckets: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = GraftFunctions.HashedBucketsName

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string, got ${other.sql}")
    }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    ExprHelpers.hashedBuckets(input.asInstanceOf[UTF8String], buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprHelpers.hashedBuckets($c, $buckets);")
}

/** The T42 linear quality score Σ (bucket mod 201 − 100) straight off
  * the text — [[HashedBucketsExpr]] folded without the array.
  */
case class HashedScoreExpr(child: Expression, buckets: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def prettyName: String = GraftFunctions.HashedScoreName

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires string, got ${other.sql}")
    }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    ExprHelpers.hashedScore(input.asInstanceOf[UTF8String], buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprHelpers.hashedScore($c, $buckets);")
}

/** Multiscale coverage statistics (q271's span algebra) in one pass
  * over the four per-tier covered-position arrays — replaces a chain
  * of interpreted array_sort/array_distinct/array_except/filter-with-
  * array_contains HOFs, the last of which was O(|u|²) per document.
  */
case class CoverageStatsExpr(v64: Expression, v32: Expression,
    v16: Expression, v8: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def first: Expression = v64
  override def second: Expression = v32
  override def third: Expression = v16
  override def fourth: Expression = v8

  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(
      Seq("covered", "t64", "t32", "t16", "t8", "n_spans", "longest_span")
        .map(org.apache.spark.sql.types.StructField(_, LongType,
          nullable = false)))

  override def prettyName: String = GraftFunctions.CoverageStatsName

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (children.forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure(s"$prettyName requires four array<bigint> arguments")

  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): Expression =
    copy(v64 = a, v32 = b, v16 = c, v8 = d)

  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    ExprHelpers.coverageStats(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
      d.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c, d) =>
      s"${ev.value} = graft.functions.ExprHelpers.coverageStats($a, $b, $c, $d);")
}

/** Multiscale rolling window hashes over a token array — q271's
  * 4-tier generator as one codegen'd pass (array<struct<tier, i, wh>>;
  * the typed-Dataset flatMap it replaces paid Seq[String]
  * deserialization + per-window tuple re-encoding for every row).
  */
case class MultiscaleWindowsExpr(child: Expression, tiers: Seq[Int],
    rollB: Long) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("tier",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("i",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("wh", LongType,
        nullable = false))), containsNull = false)

  override def prettyName: String = GraftFunctions.MultiscaleWindowsName

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<string>, got ${other.sql}")
    }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  private lazy val tiersArr = tiers.toArray

  override def nullSafeEval(input: Any): Any =
    ExprHelpers.multiscaleWindows(input.asInstanceOf[ArrayData],
      tiersArr, rollB)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tiersRef = ctx.addReferenceObj("tiers", tiersArr, "int[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprHelpers.multiscaleWindows(" +
        s"$c, $tiersRef, ${rollB}L);")
  }
}

object MultiscaleWindows {
  def apply(spark: SparkSession, c: Column): Column =
    call_function(GraftFunctions.MultiscaleWindowsName, c)
}

object CoverageStats {
  def apply(spark: SparkSession, v64: Column, v32: Column, v16: Column,
      v8: Column): Column =
    call_function(GraftFunctions.CoverageStatsName, v64, v32, v16, v8)
}

object Fingerprint {
  def apply(spark: SparkSession, c: Column): Column =
    call_function(GraftFunctions.FingerprintName, c)
}

object HashedBuckets {
  def apply(spark: SparkSession, c: Column): Column =
    call_function(GraftFunctions.HashedBucketsName, c)
}

object HashedScore {
  def apply(spark: SparkSession, c: Column): Column =
    call_function(GraftFunctions.HashedScoreName, c)
}

object Hash32Arr {
  /** array_distinct(transform(arr, hash32)) — first-occurrence order. */
  def distinct(spark: SparkSession, c: Column): Column =
    call_function(GraftFunctions.Hash32DistinctName, c)
  /** array_sort(transform(arr, hash32)). */
  def sorted(spark: SparkSession, c: Column): Column =
    call_function(GraftFunctions.Hash32SortedName, c)
  /** array_sort(array_distinct(transform(arr, hash32))). */
  def sortedDistinct(spark: SparkSession, c: Column): Column =
    call_function(GraftFunctions.Hash32SortedDistinctName, c)
}

object LangId {
  def apply(spark: SparkSession, c: Column): Column =
    call_function(GraftFunctions.LangIdName, c)
}

object CdcChunks {
  def apply(spark: SparkSession, c: Column): Column =
    call_function(GraftFunctions.CdcChunksName, c)
}
