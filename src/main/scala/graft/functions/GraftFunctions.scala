package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** One scalar `graft_*` function: `name(args)` is the static call
  * `ExprHelpers.<kernel>(args)`, NULL when any argument is NULL, and
  * also when the kernel returns null if `nullOnResult`.
  *
  * The arguments must have exactly `argTypes` (up to nullability and
  * struct field names) — no implicit casts: a kernel reads its input
  * with the accessors of the declared type, so a mistyped argument
  * must fail analysis, not read wrong bytes mid-task. The optimizer
  * replaces the call with Spark's own `StaticInvoke`, whose generated
  * code is the one static call, so the surrounding operators keep one
  * WholeStageCodegen span.
  */
case class GraftCall(name: String, kernel: String, outType: DataType,
    argTypes: Seq[DataType], nullOnResult: Boolean, args: Seq[Expression])
    extends RuntimeReplaceable {

  override def prettyName: String = name

  override def children: Seq[Expression] = args

  override def checkInputDataTypes(): TypeCheckResult = {
    val got = args.map(_.dataType)
    if (got.corresponds(argTypes)(
        DataType.equalsStructurally(_, _, ignoreNullability = true)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires ${argTypes.map(_.catalogString).mkString(", ")}, " +
        s"got ${got.map(_.catalogString).mkString(", ")}")
  }

  override lazy val replacement: Expression = StaticInvoke(
    ExprHelpers.getClass, outType, kernel, args, returnNullable = nullOnResult)

  // the analyzed plan shows `graft_simhash(text)`, not the declaration
  override protected def stringArgs: Iterator[Any] = args.iterator

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(args = newChildren)
}

/** The one declaration of every `graft_*` SQL function: [[specs]] names
  * each function, its exact argument count and its builder, and
  * [[GraftExtensions]] injects the whole table into every session of a
  * context built with `spark.sql.extensions=graft.functions.GraftExtensions`.
  * The Column accessors below and beside each aggregate only call the
  * injected names.
  */
object GraftFunctions {

  val MinhashName = "graft_minhash_signature"
  val MinhashBandsName = "graft_minhash_bands"
  val ShinglesName = "graft_shingles"
  val ShingleExplodeName = "graft_explode_shingles"
  val LshBucketName = "graft_lsh_bucket"
  val JaccardName = "graft_jaccard"
  val DotName = "graft_dot"
  val SimhashName = "graft_simhash"
  val NfcName = "graft_nfc"
  val NearestSeedName = "graft_nearest_seed"
  val CanonicalUrlName = "graft_canonical_url"
  val RegistrableDomainName = "graft_registrable_domain"
  val RobotsAllowedName = "graft_robots_allowed"
  val NGramHistName = "graft_ngram_hist"
  val InterUnionName = "graft_inter_union"
  val PosCloseName = "graft_pos_close"
  val WinnowFpName = "graft_winnow_fp"
  val Hash32DistinctName = "graft_hash32_distinct"
  val Hash32SortedName = "graft_hash32_sorted"
  val Hash32SortedDistinctName = "graft_hash32_sorted_distinct"
  val LangIdName = "graft_lang_id"
  val CdcChunksName = "graft_cdc_chunks"
  val FingerprintName = "graft_fingerprint"
  val CoverageStatsName = "graft_coverage_stats"
  val MultiscaleWindowsName = "graft_multiscale_windows"
  val HashedBucketsName = "graft_hashed_buckets"
  val HashedScoreName = "graft_hashed_score"

  /** One SQL function. `build` receives exactly `arity` arguments: the
    * extension checks the count before it calls the builder.
    */
  final case class FunctionSpec(name: String, arity: Int,
      build: Seq[Expression] => Expression)

  /** Arity gate for SQL builders (review-r11): without it, surplus
    * arguments were silently DISCARDED (`exprs.head` ignores a second
    * arg — a user's misplaced argument produced plausible wrong
    * results) and missing ones threw a raw IndexOutOfBounds instead
    * of an analysis-time message.
    */
  private[functions] def checkArity(name: String, n: Int,
      exprs: Seq[Expression]): Seq[Expression] = {
    if (exprs.length != n)
      throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${exprs.length}")
    exprs
  }

  /** An aggregate's size parameter, which must be an integer literal. */
  private def intLiteral(what: String, e: Expression): Int = e match {
    case Literal(v: Number, _) => v.intValue()
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** A [[GraftCall]] row: `name(args: argTypes)` is
    * `ExprHelpers.<kernel>(args)` of type `out`.
    */
  private def scalar(name: String, kernel: String, out: DataType,
      nullOnResult: Boolean = false)(argTypes: DataType*): FunctionSpec =
    FunctionSpec(name, argTypes.length,
      GraftCall(name, kernel, out, argTypes, nullOnResult, _))

  private val Str = StringType
  private val StrArr = ArrayType(StringType)
  private val LongArr = ArrayType(LongType)
  private val DoubleArr = ArrayType(DoubleType)
  private def notNull(fields: (String, DataType)*) =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })
  private def longs(names: String*) = notNull(names.map(_ -> LongType): _*)

  /** `graft_inter_union` reads string or bigint elements; the builder
    * picks the kernel by the (resolved) left argument's element type,
    * and the call then requires both arguments to have it.
    */
  private def interUnion(e: Seq[Expression]): Expression = {
    val el = e(0).dataType match {
      case ArrayType(LongType, _) => LongType
      case _ => StringType
    }
    GraftCall(InterUnionName,
      if (el == LongType) "interUnionLong" else "interUnionStr",
      longs("inter", "uni"), Seq.fill(2)(ArrayType(el)), nullOnResult = false, e)
  }

  val specs: Seq[FunctionSpec] = Seq(
    scalar(MinhashName, "minhash", LongArr)(Str),
    scalar(MinhashBandsName, "minhashBands", LongArr)(StrArr),
    scalar(ShinglesName, "shingleSet", ArrayType(Str, containsNull = false))(Str),
    FunctionSpec(ShingleExplodeName, 1, e => ShingleExplodeExpr(e(0))),
    scalar(LshBucketName, "lshBucket", LongType)(DoubleArr),
    scalar(JaccardName, "jaccard", DoubleType)(StrArr, StrArr),
    // null on a length mismatch or a NULL element, like the HOF fold
    scalar(DotName, "dotSeq", DoubleType, nullOnResult = true)(DoubleArr, DoubleArr),
    scalar(SimhashName, "simhash", LongType)(Str),
    scalar(NfcName, "nfc", Str)(Str),
    scalar(NearestSeedName, "nearestSeed", LongType)(DoubleArr,
      ArrayType(StructType(Seq(StructField("sid", LongType),
        StructField("se", DoubleArr))))),
    // null for a URL or host that has no canonical form / eTLD+1
    scalar(CanonicalUrlName, "canonicalUrl", Str, nullOnResult = true)(Str),
    scalar(RegistrableDomainName, "registrableDomain", Str,
      nullOnResult = true)(Str),
    scalar(RobotsAllowedName, "robotsAllowed", BooleanType)(Str, Str, Str),
    scalar(NGramHistName, "ngramHist",
      ArrayType(longs("b", "nb"), containsNull = false))(Str),
    FunctionSpec(InterUnionName, 2, interUnion),
    scalar(PosCloseName, "posClose", BooleanType)(LongArr, LongArr, LongType),
    scalar(WinnowFpName, "winnowFp", ArrayType(LongType, containsNull = false))(Str),
    scalar(Hash32DistinctName, "hash32Distinct", LongArr)(StrArr),
    scalar(Hash32SortedName, "hash32Sorted", LongArr)(StrArr),
    scalar(Hash32SortedDistinctName, "hash32SortedDistinct", LongArr)(StrArr),
    scalar(LangIdName, "langId", Str)(Str),
    scalar(CdcChunksName, "cdcChunks", ArrayType(Str, containsNull = false))(Str),
    scalar(FingerprintName, "fingerprint", LongType)(Str),
    scalar(CoverageStatsName, "coverageStats", longs("covered", "t64", "t32",
      "t16", "t8", "n_spans", "longest_span"))(LongArr, LongArr, LongArr, LongArr),
    scalar(MultiscaleWindowsName, "multiscaleWindows", ArrayType(notNull(
      "tier" -> IntegerType, "i" -> IntegerType, "wh" -> LongType),
      containsNull = false))(StrArr),
    scalar(HashedBucketsName, "hashedBuckets",
      ArrayType(LongType, containsNull = false))(Str),
    scalar(HashedScoreName, "hashedScore", LongType)(Str),
    // the analyzer wraps a bare AggregateFunction into its
    // AggregateExpression, exactly as for built-in aggregates
    FunctionSpec(BloomGate.AggName, 3,
      e => new BloomFilterAggregate(e(0), e(1), e(2))),
    FunctionSpec(BloomGate.MightContainName, 2,
      e => BloomFilterMightContain(e(0), e(1))),
    FunctionSpec(GramMatrixAgg.Name, 2,
      e => GramMatrixAgg(e(0), intLiteral("dims", e(1)))),
    FunctionSpec(MisraGriesAgg.Name, 2,
      e => MisraGriesAgg(e(0), intLiteral("capacity", e(1)))))

  /** 8-hash/3-shingle MinHash signature column. */
  def minhashSignature(spark: SparkSession, c: Column): Column =
    call_function(MinhashName, c)

  /** 4 LSH band values (8 hashes × r=2) from a shingle-array column. */
  def minhashBands(spark: SparkSession, c: Column): Column =
    call_function(MinhashBandsName, c)

  /** Distinct 3-word shingle set column (imperative expression). */
  def shingles(spark: SparkSession, c: Column): Column =
    call_function(ShinglesName, c)

  /** Generator column: one row per distinct 3-word shingle, streamed
    * (no intermediate array) — use in `select(col, explodeShingles(...))`
    * position like any explode.
    */
  def explodeShingles(spark: SparkSession, c: Column): Column =
    call_function(ShingleExplodeName, c)
}

// Column accessors, one per scalar: each only calls the injected name.

object SimHash {
  def apply(spark: SparkSession, text: Column): Column =
    call_function(GraftFunctions.SimhashName, text)
}

object Jaccard {
  def apply(spark: SparkSession, a: Column, b: Column): Column =
    call_function(GraftFunctions.JaccardName, a, b)
}

object Dot {
  def apply(spark: SparkSession, a: Column, b: Column): Column =
    call_function(GraftFunctions.DotName, a, b)
}

object LshBucket {
  def apply(spark: SparkSession, vec: Column): Column =
    call_function(GraftFunctions.LshBucketName, vec)
}

object NfcNormalize {
  def apply(spark: SparkSession, text: Column): Column =
    call_function(GraftFunctions.NfcName, text)
}

object NearestSeed {
  def apply(spark: SparkSession, e: Column, seeds: Column): Column =
    call_function(GraftFunctions.NearestSeedName, e, seeds)
}

object NGramHist {
  def apply(spark: SparkSession, c: Column): Column =
    call_function(GraftFunctions.NGramHistName, c)
}

object InterUnion {
  def apply(spark: SparkSession, a: Column, b: Column): Column =
    call_function(GraftFunctions.InterUnionName, a, b)
}

object PosClose {
  def apply(spark: SparkSession, a: Column, b: Column, d: Column): Column =
    call_function(GraftFunctions.PosCloseName, a, b, d)
}

object WinnowFp {
  def apply(spark: SparkSession, c: Column): Column =
    call_function(GraftFunctions.WinnowFpName, c)
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

object Fingerprint {
  def apply(spark: SparkSession, c: Column): Column =
    call_function(GraftFunctions.FingerprintName, c)
}

object CoverageStats {
  def apply(spark: SparkSession, v64: Column, v32: Column, v16: Column,
      v8: Column): Column =
    call_function(GraftFunctions.CoverageStatsName, v64, v32, v16, v8)
}

object MultiscaleWindows {
  def apply(spark: SparkSession, c: Column): Column =
    call_function(GraftFunctions.MultiscaleWindowsName, c)
}

object HashedBuckets {
  def apply(spark: SparkSession, c: Column): Column =
    call_function(GraftFunctions.HashedBucketsName, c)
}

object HashedScore {
  def apply(spark: SparkSession, c: Column): Column =
    call_function(GraftFunctions.HashedScoreName, c)
}
