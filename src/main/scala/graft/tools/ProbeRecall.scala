// Dev probe: q281 graph-ANN recall@5 vs the q36 brute force, per SF —
// the calibration table BASELINE.md carries for the capped seed join.
package graft.tools

object ProbeRecall {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.queries.Common.localSession(cpus)
    import spark.implicits._
    val dirs = sys.env.getOrElse("SPARK_GRAFT_SF_DIRS",
      "/root/testdata/sf0.001,/root/testdata/sf0.01,/root/testdata/sf0.1")
      .split(",").toSeq
    for (d <- dirs) {
      val graph = graft.SparkEntry.queries("q281_ann_graph")(spark, d)
        .as[(Long, Long, Long, Double)].collect().toSeq
      val brute = graft.SparkEntry.queries("q36_cosine_topk")(spark, d)
        .as[(Long, Long, Long, Double)].collect().toSeq
      val want = brute.groupBy(_._1).map { case (q, rs) =>
        q -> rs.map(_._2).toSet }
      val got = graph.groupBy(_._1).map { case (q, rs) =>
        q -> rs.map(_._2).toSet }
      val recalls = want.toSeq.map { case (q, w) =>
        w.intersect(got.getOrElse(q, Set.empty)).size.toDouble / w.size }
      println(f"[recall] $d recall@5 = ${recalls.sum / recalls.length}%.3f" +
        s" over ${recalls.length} queries")
      graft.queries.Common.unpersistAll(spark)
    }
    spark.stop()
  }
}
