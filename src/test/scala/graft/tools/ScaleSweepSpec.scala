package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Common
import graft.text.TextFunctions

/** The scale sweep's replica writer at k = 2: replicated tables double,
  * bounded dimensions do not, ids of the two replicas are disjoint,
  * foreign keys resolve inside their own replica, no text shingle with
  * a non-stopword or vector repeats across replicas, each document keeps
  * the features the language and quality queries read, and the source
  * dir is left as it was.
  */
class ScaleSweepSpec extends SparkSpec {

  private lazy val copyDir =
    java.nio.file.Files.createTempDirectory("graft-scale-sweep").toString

  private def sourceDigests: Map[String, String] =
    new java.io.File(sfDir).listFiles().toSeq.map { f =>
      f.getName -> Common.md5Hex(java.nio.file.Files.readAllBytes(f.toPath))
    }.toMap

  private lazy val before = sourceDigests

  override protected def beforeAll(): Unit = {
    super.beforeAll()
    before
    ScaleSweep.replicate(spark, sfDir, copyDir, 2)
  }

  override protected def afterAll(): Unit = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(copyDir))
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
    super.afterAll()
  }

  private def src(t: String): DataFrame = Common.table(spark, sfDir, t)
  private def copy(t: String): DataFrame = Common.table(spark, copyDir, t)

  /** `key` values of the source table: replica 0 of the copy carries
    * exactly these, replica 1 none of them.
    */
  private def srcKeys(t: String, key: String): Set[Long] =
    src(t).select(col(key).cast("long")).collect().map(_.getLong(0)).toSet

  test("replicated tables double their rows; nation and region keep theirs") {
    val (s, c) = (ScaleSweep.layout(spark, sfDir), ScaleSweep.layout(spark, copyDir))
    assert(s.contains("lineitem") && s.contains("nation"))
    assert(c.keySet == s.keySet)
    for (t <- s.keys) {
      val factor = if (ScaleSweep.bounded(t)) 1 else 2
      assert(c(t)._1 == factor * s(t)._1, t)
      assert(c(t)._2 >= 1, t)
      assert(copy(t).schema == src(t).schema, t)
    }
  }

  test("ids are disjoint across replicas") {
    val keys = Seq("customer" -> "c_custkey", "orders" -> "o_orderkey", "orders" -> "o_custkey",
      "lineitem" -> "l_orderkey", "lineitem" -> "l_partkey", "lineitem" -> "l_suppkey",
      "part" -> "p_partkey", "supplier" -> "s_suppkey", "events" -> "event_id",
      "events" -> "user_id", "documents" -> "doc_id", "embeddings" -> "vec_id")
    // one job: distinct ids per (column, side)
    val ids = for ((t, c) <- keys; (side, df) <- Seq("src" -> src(t), "copy" -> copy(t)))
      yield df.select(lit(s"$t.$c").as("key"), lit(side).as("side"), col(c).cast("long").as("id"))
    val n = ids.reduce(_ unionByName _).groupBy("key", "side").agg(countDistinct("id"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    for ((t, c) <- keys)
      assert(n((s"$t.$c", "copy")) == 2 * n((s"$t.$c", "src")), s"$t.$c")
  }

  test("orders→customer and lineitem→orders joins stay inside a replica") {
    def check(child: String, childKey: String, fk: String, parent: String, pk: String): Unit = {
      val (c0, p0) = (srcKeys(child, childKey), srcKeys(parent, pk))
      val srcPairs = src(child).join(src(parent), col(fk) === col(pk)).count()
      val pairs = copy(child).join(copy(parent), col(fk) === col(pk))
        .select(col(childKey).cast("long"), col(pk).cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(srcPairs > 0 && pairs.length == 2 * srcPairs, s"$child→$parent")
      val crossing = pairs.filter { case (c, p) => c0(c) != p0(p) }
      assert(crossing.isEmpty, s"$child→$parent: ${crossing.take(3).toSeq}")
    }
    check("orders", "o_orderkey", "o_custkey", "customer", "c_custkey")
    check("lineitem", "l_orderkey", "l_orderkey", "orders", "o_orderkey")
  }

  private val stopwords = TextFunctions.LangStopwords.flatMap(_._2).toSet

  test("no documents 3-word shingle with a non-stopword and no embeddings vector " +
      "is in two replicas") {
    val ids0 = srcKeys("documents", "doc_id")
    val docs = copy("documents").select(col("doc_id"), col("text")).collect()
      .map(r => (ids0(r.getLong(0)), r.getString(1)))
    def shingles(rep0: Boolean): Set[String] = docs.filter(_._1 == rep0)
      .flatMap(d => d._2.split("\\s+").sliding(3).filter(_.length == 3).map(_.mkString(" ")))
      .toSet
    val (a, b) = (shingles(true), shingles(false))
    assert(a.nonEmpty && a.size == b.size)
    // stopwords are kept in every replica, so only all-stopword shingles repeat
    val shared = a.intersect(b)
    assert(shared.forall(_.split(" ").forall(stopwords)), shared.take(3))

    val vecs0 = srcKeys("embeddings", "vec_id")
    val vecs = copy("embeddings").select(col("vec_id"), col("embedding")).collect()
      .map(r => (vecs0(r.getLong(0)), r.getSeq[Float](1)))
    val (va, vb) = (vecs.filter(_._1).map(_._2).toSet, vecs.filterNot(_._1).map(_._2).toSet)
    assert(va.nonEmpty && va.size == vb.size)
    assert(va.intersect(vb).isEmpty)
  }

  test("each document keeps its length, language id and stopword ratio in every replica") {
    val ids0 = srcKeys("documents", "doc_id")
    val stride = ids0.max - ids0.min + 1
    val ws = TextFunctions.words(lower(col("text")))
    val feats = copy("documents").select(col("doc_id"), col("n_chars"),
        length(col("text")), TextFunctions.langIdHeuristic(col("text")),
        TextFunctions.stopwordRatio(ws, stopwords.toSeq))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2), r.getString(3), r.getDouble(4)))
    val (rep0, rep1) = feats.partition(f => ids0(f._1))
    assert(rep0.count(_._2._3 != "und") > 0, "no document has a stopword hit")
    assert(rep1.map { case (id, f) => (id - stride) -> f }.toMap == rep0.toMap)
  }

  test("the source dir's files are byte-identical afterwards") {
    assert(sourceDigests == before)
  }

  test("the growth exponent is the slope of log(metric) on log(k)") {
    val e = ScaleSweep.exponent(Seq(1.0, 4.0, 16.0).map(k => (k, 3.0 * k * k)))
    assert(e.exists(x => math.abs(x - 2.0) < 1e-9), e)
    assert(ScaleSweep.exponent(Seq((4.0, 1.0))).isEmpty)
  }
}
