package qbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.queries.Q

/** The frozen query list and its golden digests. */
object DeclaredList {

  /** Registry objects, by the name used in `queries.<Object>.s`. */
  val objects: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> graft.queries.Relational.qs, "Relational2" -> graft.queries.Relational2.qs,
    "Relational3" -> graft.queries.Relational3.qs, "Events" -> graft.queries.Events.qs,
    "TextOps" -> graft.queries.TextOps.qs, "Embeddings" -> graft.queries.Embeddings.qs,
    "QboPipelines" -> graft.queries.QboPipelines.qs, "MultimodalOps" -> graft.queries.MultimodalOps.qs,
    "Pipeline" -> graft.queries.Pipeline.qs, "Curation" -> graft.queries.Curation.qs,
    "Curation2" -> graft.queries.Curation2.qs, "Curation3" -> graft.queries.Curation3.qs,
    "Curation4" -> graft.queries.Curation4.qs, "Curation5" -> graft.queries.Curation5.qs,
    "Curation6" -> graft.queries.Curation6.qs, "Audit" -> graft.queries.Audit.qs,
    "Audit2" -> graft.queries.Audit2.qs, "Audit3" -> graft.queries.Audit3.qs,
    "Streaming2" -> graft.queries.Streaming2.qs, "Formats" -> graft.queries.Formats.qs,
    "Crawl" -> graft.queries.Crawl.qs, "Crawl2" -> graft.queries.Crawl2.qs)

  lazy val objectOf: Map[String, String] =
    objects.flatMap { case (o, qs) => qs.map(_.name -> o) }.toMap

  private def lines(file: String): Seq[String] =
    Files.readAllLines(Paths.get(file)).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  def names(dir: String): Seq[String] = lines(s"$dir/declared_mix.txt")

  /** Registry objects the frozen list touches, in first-use order. */
  def listObjects(dir: String): Seq[String] = names(dir).map(objectOf).distinct

  /** name -> (digest, "oracle" | "rows"). */
  def golden(dir: String): Map[String, (String, String)] =
    lines(s"$dir/golden.tsv").map(_.split('\t')).map(a => a(0) -> (a(1), a(2))).toMap
}

/** declared_mix: the frozen list, run by name through `SparkEntry.queries`
  * over a copy of the sf dir whose rows are permuted by the seed (staged
  * by the runner). Each query is timed from the registry call to a digest
  * over all its output columns, and its digest is checked against the
  * golden one.
  */
final class DeclaredMix(run: Run, benchDir: String, sfDir: String) extends Workload {
  private val spark = run.spark
  private val names = DeclaredList.names(benchDir)
  private val golden = DeclaredList.golden(benchDir)
  private val registry = graft.SparkEntry.queries

  def pass(run: Run): Unit = names.foreach { name =>
    val obj = DeclaredList.objectOf(name)
    val t0 = System.nanoTime()
    run.op(name) {
      val df = run.layer("queries.build")(registry(name)(spark, sfDir))
      val d = run.layer("queries.exec")(Digest.of(df))
      run.add(s"queries.$obj.s", (System.nanoTime() - t0) / 1e9)
      golden.get(name) match {
        case None => Some("no golden digest")
        case Some((want, "oracle")) if Digest.render(d) != want =>
          Some(s"digest ${Digest.render(d)} != golden $want")
        case Some((want, _)) if d._1.toString != want.takeWhile(_ != ':') =>
          Some(s"rows ${d._1} != golden ${want.takeWhile(_ != ':')}")
        case _ => None
      }
    }
  }
}
