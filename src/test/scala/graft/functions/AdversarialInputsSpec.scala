package graft.functions

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkSpec
import graft.functions.GraftFunctions._

/** Inputs the synthetic corpus never produces, fed to every scalar
  * `graft_*` function: NULL, empty and whitespace-only text, a
  * supplementary code point (U+1F600, two UTF-16 chars, four UTF-8
  * bytes), empty arrays, an array with a NULL element, NaN and a
  * negative distance. Each value goes into one argument position at a
  * time, the other arguments holding an ordinary value.
  *
  * The values reach the function through a non-foldable
  * `IF(id >= 0, v, NULL)` over `range(1)`, so the optimizer cannot
  * fold them away, and every query runs twice: once codegen-only (no
  * silent fallback to the interpreter) and once interpreted. Neither
  * may throw, both must agree, and a NULL argument yields NULL.
  */
class AdversarialInputsSpec extends SparkSpec {

  private val S = "string"
  private val A = "array<string>"
  private val D = "array<double>"
  private val L = "array<bigint>"
  private val N = "bigint"
  private val Seeds = "array<struct<sid:bigint,se:array<double>>>"

  /** The scalar entries by argument kind (array<bigint> is also
    * accepted by graft_inter_union; only its string form is exercised
    * here).
    */
  private val scalars: Seq[(String, Seq[String])] = Seq(
    MinhashName -> Seq(S), MinhashBandsName -> Seq(A),
    ShinglesName -> Seq(S), JaccardName -> Seq(A, A),
    SimhashName -> Seq(S), NfcName -> Seq(S),
    CanonicalUrlName -> Seq(S), RegistrableDomainName -> Seq(S),
    RobotsAllowedName -> Seq(S, S, S), NGramHistName -> Seq(S),
    InterUnionName -> Seq(A, A), WinnowFpName -> Seq(S),
    Hash32DistinctName -> Seq(A), Hash32SortedName -> Seq(A),
    Hash32SortedDistinctName -> Seq(A), LangIdName -> Seq(S),
    CdcChunksName -> Seq(S), FingerprintName -> Seq(S),
    MultiscaleWindowsName -> Seq(A), HashedBucketsName -> Seq(S),
    HashedScoreName -> Seq(S), LshBucketName -> Seq(D),
    DotName -> Seq(D, D), NearestSeedName -> Seq(D, Seeds),
    PosCloseName -> Seq(L, L, N), CoverageStatsName -> Seq(L, L, L, L))

  /** Entries outside this spec: the generator (tested below) and the
    * aggregates.
    */
  private val other = Set(ShingleExplodeName, BloomGate.AggName,
    BloomGate.MightContainName, GramMatrixAgg.Name, MisraGriesAgg.Name)

  private val smile = "\uD83D\uDE00" // U+1F600
  private val nullValue = Map(S -> "CAST(NULL AS STRING)",
    A -> "CAST(NULL AS ARRAY<STRING>)", D -> "CAST(NULL AS ARRAY<DOUBLE>)",
    L -> "CAST(NULL AS ARRAY<BIGINT>)", N -> "CAST(NULL AS BIGINT)",
    Seeds -> s"CAST(NULL AS $Seeds)")
  private val adversarial = Map(
    S -> Seq("''", "'   '", s"'$smile'", s"'a $smile b c d $smile$smile e'"),
    A -> Seq("CAST(array() AS ARRAY<STRING>)", "array('')", "array('   ')",
      s"array('$smile', 'a $smile b')", "array('a', NULL, 'b')",
      "array(CAST(NULL AS STRING))"),
    D -> Seq("CAST(array() AS ARRAY<DOUBLE>)", "array(1.0D, NULL)",
      "array(CAST('NaN' AS DOUBLE), -0.0D)"),
    L -> Seq("CAST(array() AS ARRAY<BIGINT>)", "array(5L, NULL, 1L)",
      "array(9L, 2L, 2L)"),
    N -> Seq("0L", "-1L"),
    // seed vectors at least as long as the ordinary query: a shorter
    // one fails by design (graft_nearest_seed reports the dims)
    Seeds -> Seq(s"CAST(array() AS $Seeds)",
      "array(struct(3L, array(NULL, 1.0D, 0.0D)))",
      "array(struct(4L, array(CAST('NaN' AS DOUBLE), 0.0D, 0.0D)))"))
  private val ordinary = Map(S -> "'a b c d e f'",
    A -> "array('a b c', 'b c d')", D -> "array(1.0D, 2.0D)",
    L -> "array(1L, 4L)", N -> "2L",
    Seeds -> "array(struct(7L, array(1.0D, 0.0D)), struct(9L, array(0.0D, 1.0D)))")

  private def session(codegen: Boolean): SparkSession = {
    val s = spark.newSession()
    if (codegen) {
      s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      s.conf.set("spark.sql.codegen.fallback", "false")
    } else {
      s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      s.conf.set("spark.sql.codegen.wholeStage", "false")
    }
    s
  }

  private def wrap(v: String) = s"IF(id >= 0, $v, NULL)"

  test("the adversarial table covers every specs entry") {
    assert(scalars.map(_._1).toSet ++ other ==
      GraftFunctions.specs.map(_.name).toSet)
    assert(scalars.map(_._1).toSet.intersect(other).isEmpty)
  }

  test("string / array<string> scalars: NULL in gives NULL out; empty, " +
      "whitespace, supplementary code points and NULL elements neither " +
      "throw nor differ between codegen and interpreted evaluation") {
    val cg = session(codegen = true)
    val interp = session(codegen = false)
    for ((name, kinds) <- scalars) {
      // one column per (argument position, value): (call text, is NULL)
      val cases = for {
        p <- kinds.indices
        (v, isNull) <- (nullValue(kinds(p)) -> true) +:
          adversarial(kinds(p)).map(_ -> false)
      } yield {
        val args = kinds.indices.map(q =>
          wrap(if (q == p) v else ordinary(kinds(q))))
        s"$name(${args.mkString(", ")})" -> isNull
      }
      val sql = cases.zipWithIndex.map { case ((e, _), i) => s"$e AS c$i" }
        .mkString("SELECT ", ", ", " FROM range(1)")
      def run(s: SparkSession): Row =
        try s.sql(sql).head
        catch {
          case t: Throwable => fail(s"$name threw ${t.getClass.getName}: " +
            s"${t.getMessage}\n$sql", t)
        }
      val a = run(cg)
      val b = run(interp)
      assert(a == b, s"$name: codegen $a vs interpreted $b")
      for (((e, isNull), i) <- cases.zipWithIndex if isNull)
        assert(a.isNullAt(i), s"$e gave ${a.get(i)}, not NULL")
    }
  }

  test("a NULL array element: graft_minhash_bands skips it, and " +
      "graft_multiscale_windows drops exactly the windows over it") {
    val fresh = spark.newSession()
    def one(sql: String) = fresh.sql(s"SELECT $sql FROM range(1)").head
    assert(one("graft_minhash_bands(array('a b c', NULL, 'b c d'))") ==
      one("graft_minhash_bands(array('a b c', 'b c d'))"))
    assert(one("graft_minhash_bands(array(CAST(NULL AS STRING)))")
      .getSeq[Any](0) == Seq(null, null, null, null))
    // 20 tokens; token 10 NULL vs 'x'. The tiers are 64/32/16/8, so
    // tier 16 has 5 windows and tier 8 has 13.
    val toks = (0 until 20).map(i => s"'t$i'")
    def windows(tok10: String) = one(s"graft_multiscale_windows(array(" +
      toks.updated(10, tok10).mkString(", ") + "))")
      .getSeq[Row](0).map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val full = windows("'x'")
    assert(full.length == 18)
    val overNull = (w: (Int, Int, Long)) => w._2 - 1 <= 10 && 10 < w._2 - 1 + w._1
    assert(windows("NULL") == full.filterNot(overNull))
    // every tier-16 window covers token 10; tier-8 windows starting
    // at tokens 0-2 and 11-12 stay clear of it
    assert(windows("NULL").map(w => (w._1, w._2)) ==
      Seq((8, 1), (8, 2), (8, 3), (8, 12), (8, 13)))
  }

  test("graft_explode_shingles: NULL, empty, whitespace and supplementary " +
      "code points neither throw nor differ between evaluation modes") {
    val cg = session(codegen = true)
    val interp = session(codegen = false)
    for (v <- nullValue(S) +: adversarial(S)) {
      val sql = s"SELECT graft_explode_shingles(${wrap(v)}) FROM range(1)"
      val a = cg.sql(sql).collect().toSeq
      assert(a == interp.sql(sql).collect().toSeq, sql)
      if (v == nullValue(S)) assert(a.isEmpty)
    }
    val sup = s"SELECT graft_explode_shingles(${wrap(s"'a $smile b'")})" +
      " FROM range(1)"
    assert(cg.sql(sup).collect().map(_.getString(0)).toSeq ==
      Seq(s"a $smile b"))
  }
}
