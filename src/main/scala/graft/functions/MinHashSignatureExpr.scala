package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expression: full MinHash signature of a document in
  * one imperative pass — text → word shingles → md5-derived hash32 →
  * n affine minima → array<long>.
  *
  * Why an expression and not the higher-order-function composition in
  * [[graft.dedup.Dedup]]: the HOF chain is semantically identical but
  * evaluates one interpreted lambda per array element — measured ~4 s
  * for 5k docs at sf0.1 (~3M lambda invocations), versus one eval per
  * ROW here with a tight Scala loop. Bit-identical to the HOF version
  * and to the DuckDB oracle SQL (asserted in DedupSpec).
  *
  * Codegen emits a static call into [[ExprHelpers]], so surrounding
  * operators keep one WholeStageCodegen span (CodegenFallback would
  * break the stage; asserted in PlanSpec).
  */
case class MinHashSignatureExpr(child: Expression, shingleK: Int, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def prettyName: String = GraftFunctions.MinhashName

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    ExprHelpers.minhash(input.asInstanceOf[UTF8String], shingleK, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprHelpers.minhash($c, $shingleK, $numHashes);")
}

/** LSH band values from an existing shingle array (array<string>), one
  * imperative pass — see [[ExprHelpers.minhashBands]]. Used where a
  * query shares one shingle frame between band generation and exact
  * scoring (graft.dedup.Dedup.lshCandidatePairsFromShingles).
  */
case class MinHashBandsExpr(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def prettyName: String = GraftFunctions.MinhashBandsName

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    ExprHelpers.minhashBands(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprHelpers.minhashBands($c, $numHashes);")
}

/** The one declaration of every `graft_*` SQL function: [[specs]] names
  * each function, its exact argument count and its builder, and
  * [[GraftExtensions]] injects the whole table into every session of a
  * context built with `spark.sql.extensions=graft.functions.GraftExtensions`.
  * The Column accessors below and beside each expression only call the
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

  /** The one hashed-feature width every T42/DSIR consumer uses. */
  val FeatureBuckets = 1024

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

  val specs: Seq[FunctionSpec] = Seq(
    FunctionSpec(MinhashName, 1,
      e => MinHashSignatureExpr(e(0), shingleK = 3, numHashes = 8)),
    FunctionSpec(MinhashBandsName, 1, e => MinHashBandsExpr(e(0), numHashes = 8)),
    FunctionSpec(ShinglesName, 1, e => ShingleSetExpr(e(0), shingleK = 3)),
    FunctionSpec(ShingleExplodeName, 1, e => ShingleExplodeExpr(e(0), shingleK = 3)),
    FunctionSpec(LshBucketName, 1, e => LshBucketExpr(e(0), nPlanes = 8)),
    FunctionSpec(JaccardName, 2, e => JaccardExpr(e(0), e(1))),
    FunctionSpec(DotName, 2, e => DotExpr(e(0), e(1))),
    FunctionSpec(SimhashName, 1, e => SimHashExpr(e(0))),
    FunctionSpec(NfcName, 1, e => NfcNormalizeExpr(e(0))),
    FunctionSpec(NearestSeedName, 2, e => NearestSeedExpr(e(0), e(1))),
    FunctionSpec(CanonicalUrlName, 1, e => CanonicalUrlExpr(e(0))),
    FunctionSpec(RegistrableDomainName, 1, e => RegistrableDomainExpr(e(0))),
    FunctionSpec(RobotsAllowedName, 3, e => RobotsAllowedExpr(e(0), e(1), e(2))),
    FunctionSpec(NGramHistName, 1, e => NGramHistExpr(e(0),
      buckets = graft.queries.Curation5.NGramB, prime = graft.ops.Hashing.P)),
    FunctionSpec(InterUnionName, 2, e => InterUnionExpr(e(0), e(1))),
    FunctionSpec(PosCloseName, 3, e => PosCloseExpr(e(0), e(1), e(2))),
    FunctionSpec(WinnowFpName, 1, e => WinnowFpExpr(e(0), window = 4)),
    FunctionSpec(Hash32DistinctName, 1, e => Hash32ArrayExpr(e(0), mode = 1)),
    FunctionSpec(Hash32SortedName, 1, e => Hash32ArrayExpr(e(0), mode = 2)),
    FunctionSpec(Hash32SortedDistinctName, 1, e => Hash32ArrayExpr(e(0), mode = 3)),
    FunctionSpec(LangIdName, 1, e => LangIdExpr(e(0))),
    FunctionSpec(CdcChunksName, 1, e => CdcChunksExpr(e(0))),
    FunctionSpec(FingerprintName, 1, e => FingerprintExpr(e(0))),
    FunctionSpec(CoverageStatsName, 4,
      e => CoverageStatsExpr(e(0), e(1), e(2), e(3))),
    FunctionSpec(MultiscaleWindowsName, 1, e => MultiscaleWindowsExpr(e(0),
      tiers = graft.queries.Curation5.Tiers, rollB = graft.queries.Curation5.RollB)),
    FunctionSpec(HashedBucketsName, 1,
      e => HashedBucketsExpr(e(0), buckets = FeatureBuckets)),
    FunctionSpec(HashedScoreName, 1,
      e => HashedScoreExpr(e(0), buckets = FeatureBuckets)),
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
