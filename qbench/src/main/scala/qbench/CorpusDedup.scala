package qbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.GraftFunctions
import graft.load.Warehouse

/** Seeded corpus with planted ground truth. Base documents are distinct
  * draws from a Zipf vocabulary (3-word shingles of two base documents
  * almost never meet); on top of them:
  *  - exact groups: a base document plus 1 or 2 verbatim copies;
  *  - near pairs: a base document plus one copy with a fixed share of
  *    its tokens replaced (3-word-shingle Jaccard about 0.8 or more).
  * Exact and near plants use disjoint base documents, and ids are a
  * seeded permutation, so "smallest id" never tells a copy from its base.
  */
final class CorpusGen(seed: Long, val docs: Int = CorpusGen.Docs) {
  import CorpusGen._

  private val rnd = new java.util.Random(seed * 0x2545F4914F6CDD1DL + 29)

  private val cdf: Array[Double] = {
    val w = (1 to Vocab).map(r => 1.0 / math.pow(r, 1.05))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  private def word(): String = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    "w" + Integer.toString(if (i >= 0) i else -i - 1, 36)
  }
  private def text(): Array[String] =
    Array.fill(MinWords + rnd.nextInt(MaxWords - MinWords + 1))(word())

  private val nExactCopies = (docs * ExactShare).toInt
  private val nNear = (docs * NearShare).toInt
  private val nBase = docs - nExactCopies - nNear

  private val ids: Array[Long] = {
    val a = Array.tabulate(docs)(i => (i + 1).toLong)
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  private val bases: Array[Array[String]] = Array.fill(nBase)(text())

  /** Exact groups take bases from the front of the list, 1 or 2 copies
    * each; near pairs (base id, copy id) take bases from the back.
    */
  val (all: IndexedSeq[(Long, String)], exactGroups: Seq[Seq[Long]],
      nearPairs: Seq[(Long, Long)]) = {
    val out = mutable.ArrayBuffer.empty[(Long, String)]
    bases.indices.foreach(i => out += ids(i) -> bases(i).mkString(" "))
    val groups = mutable.ArrayBuffer.empty[Seq[Long]]
    var next = nBase
    while (next < nBase + nExactCopies) {
      val copies = math.min(1 + rnd.nextInt(2), nBase + nExactCopies - next)
      val b = groups.size
      groups += ids(b) +: (0 until copies).map(k => ids(next + k))
      (0 until copies).foreach(k => out += ids(next + k) -> bases(b).mkString(" "))
      next += copies
    }
    val pairs = (0 until nNear).map { k =>
      val b = nBase - 1 - k
      val t = bases(b).clone()
      // a fixed number of distinct positions, so every planted pair
      // stays above the verification threshold by construction
      val edits = math.max(1, math.round(EditRate * t.length).toInt)
      Iterator.continually(rnd.nextInt(t.length)).distinct.take(edits).foreach(i => t(i) = word())
      out += ids(next + k) -> t.mkString(" ")
      ids(b) -> ids(next + k)
    }
    (out.toIndexedSeq, groups.toSeq, pairs)
  }

  def digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    all.foreach { case (id, t) => md.update(s"$id\t$t\n".getBytes("UTF-8")) }
    md.digest().map("%02x".format(_)).mkString
  }
}

object CorpusGen {
  val Docs = 15000
  val ExactShare = 0.08
  val NearShare = 0.08
  val EditRate = 0.03
  val Vocab = 50000
  val MinWords = 60
  val MaxWords = 140
  /** Verification threshold on exact 3-word-shingle Jaccard. */
  val Threshold = 0.7
  /** Lowest recall of planted near pairs a pass may reach. MinHash-LSH
    * misses about 1% of the planted pairs (the baseline per seed is in
    * NOTES.md); the floor sits well below that seed-to-seed noise and well
    * above what a weakened banding would reach, so a change that buys
    * speed by missing duplicates fails the pass.
    */
  val RecallFloor = 0.975

  /** Plain-Scala reference: distinct 3-word shingles, Jaccard of sets. */
  def shingles(text: String): Set[String] = {
    val w = text.split("\\s+", -1)
    if (w.length < 3) Set.empty else w.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val u = (x ++ y).size
    if (u == 0) 0.0 else (x intersect y).size.toDouble / u
  }
}

/** corpus_dedup: exact groups → shingles → MinHash-LSH candidates →
  * exact Jaccard verification → connected-component clusters → keep the
  * smallest id per cluster → land the kept set.
  */
final class CorpusDedup(run: Run, gen: CorpusGen, workDir: String, digestFile: java.nio.file.Path)
    extends Workload {
  private val spark = run.spark
  import spark.implicits._

  private val inPath = s"$workDir/corpus"
  gen.all.toDF("doc_id", "text").repartition(run.nproc).write.mode("overwrite").parquet(inPath)
  private val planted = gen.nearPairs.toDF("a", "b")
  private val exactMembers = gen.exactGroups.zipWithIndex
    .flatMap { case (g, i) => g.map(_ -> i) }.toDF("doc_id", "grp")
  private val text = gen.all.toMap
  private val outPath = s"$workDir/kept"
  private val keptDigests = mutable.LinkedHashSet.empty[String]

  def pass(run: Run): Unit = {
    var survivors: DataFrame = null
    var sh: DataFrame = null
    var cands: DataFrame = null
    var verified: DataFrame = null
    var clusters: DataFrame = null
    var kept: DataFrame = null

    run.op("stage:exact") {
      val d = spark.read.parquet(inPath)
      survivors = run.layer("dedup.exact") {
        val groups = Dedup.exactGroups(d, "doc_id", "text")
        run.materialize(d.join(groups.select(col("keep_id").as("doc_id")), "doc_id"))
      }
      None
    }
    run.op("stage:shingle") {
      sh = run.layer("functions.shingle")(run.materialize(
        Dedup.shingleFrame(survivors, "doc_id", "text")))
      // the bands are computed inside lshCandidatePairsFromShingles; the
      // traced run times the same expression on its own, off the pass
      if (run.tracer.enabled) run.probe("functions.bands") {
        sh.select(GraftFunctions.minhashBands(spark, col("sh")))
          .write.format("noop").mode("overwrite").save()
      }
      None
    }
    run.op("stage:lsh") {
      cands = run.layer("dedup.lsh")(run.materialize(Dedup.lshCandidatePairsFromShingles(sh)))
      run.add("dedup.candidate_pairs", cands.count().toDouble)
      None
    }
    run.op("stage:verify") {
      verified = run.layer("dedup.verify")(run.materialize(
        cands.join(sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), "a_id")
          .join(sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), "b_id")
          .withColumn("j", Dedup.jaccard(col("a_sh"), col("b_sh")))
          .filter(col("j") >= CorpusGen.Threshold)
          .select("a_id", "b_id", "j")))
      run.add("dedup.verified_pairs", verified.count().toDouble)
      // a seeded sample of emitted pairs, re-checked in plain Scala
      val sample = verified.orderBy(xxhash64(col("a_id"), col("b_id"), lit(run.seed)))
        .limit(100).select("a_id", "b_id").as[(Long, Long)].collect()
      val bad = sample.filter { case (a, b) => CorpusGen.jaccard(text(a), text(b)) < CorpusGen.Threshold }
      if (bad.nonEmpty) Some(s"${bad.length} sampled pairs re-check below ${CorpusGen.Threshold}: ${bad.take(3).mkString(",")}")
      else None
    }
    run.op("stage:cluster") {
      clusters = run.layer("dedup.cluster")(run.materialize(Dedup.dupClusters(verified)))
      run.add("dedup.clusters", clusters.select("cluster_id").distinct().count().toDouble)
      // recall: planted near pairs that ended up in one cluster
      val c = clusters.select(col("doc_id"), col("cluster_id"))
      val found = planted
        .join(c.select(col("doc_id").as("a"), col("cluster_id").as("ca")), "a")
        .join(c.select(col("doc_id").as("b"), col("cluster_id").as("cb")), "b")
        .filter(col("ca") === col("cb")).count()
      run.add("dedup.planted_found", found.toDouble)
      run.add("dedup.planted_pairs", gen.nearPairs.size.toDouble)
      val recall = found.toDouble / gen.nearPairs.size
      if (recall < CorpusGen.RecallFloor)
        Some(f"recall $recall%.4f ($found of ${gen.nearPairs.size} planted pairs) is below ${CorpusGen.RecallFloor}")
      else None
    }
    run.op("stage:keep") {
      kept = run.layer("dedup.keep")(run.materialize(
        survivors.join(clusters.filter(col("cluster_id") =!= col("doc_id")).select("doc_id"),
          Seq("doc_id"), "left_anti")))
      run.layer("load.write")(Warehouse.writePath(kept, outPath))
      val (rows, digest) = run.layer("load.readback")(Digest.of(spark.read.parquet(outPath)))
      run.add("load.rows_written", rows.toDouble)
      keptDigests += Digest.render((rows, digest))
      // every planted exact group collapses to exactly one survivor
      val perGroup = spark.read.parquet(outPath).select("doc_id").join(exactMembers, "doc_id")
        .groupBy("grp").count().filter(col("count") =!= 1).count()
      val groupsKept = spark.read.parquet(outPath).select("doc_id").join(exactMembers, "doc_id")
        .select("grp").distinct().count()
      if (perGroup != 0 || groupsKept != gen.exactGroups.size)
        Some(s"exact groups: $perGroup with more than one survivor, " +
          s"${gen.exactGroups.size - groupsKept} with none")
      else if (keptDigests.size > 1) Some(s"kept-set digest changed between passes: ${keptDigests.mkString(" ")}")
      else CorpusDedup.sameAcrossRuns(digestFile, keptDigests.head)
    }
  }

  override def passCounters(run: Run): Unit = {
    val (files, bytes) = Hygiene.dirBytes(java.nio.file.Paths.get(outPath))
    run.add("load.files_written", files.toDouble)
    run.add("load.bytes_written", bytes.toDouble)
  }
}

object CorpusDedup {

  /** The kept-set digest of a seed must not change between runs either:
    * the first run of a seed records it, later runs compare with it.
    */
  def sameAcrossRuns(file: java.nio.file.Path, digest: String): Option[String] = {
    import java.nio.file.Files
    if (!Files.exists(file)) {
      Files.createDirectories(file.getParent)
      Files.write(file, digest.getBytes("UTF-8"))
      None
    } else {
      val before = new String(Files.readAllBytes(file), "UTF-8")
      if (before == digest) None
      else Some(s"kept-set digest $digest differs from an earlier run of this seed: $before")
    }
  }
}
