// Dev tool: Bench-identical timing (warm-up + one timed rep, the same
// meter window) for NAMED queries only, for iterating on individual
// plans without the full run. Prints each query's wall time next to
// its `layers` record.
// Usage: sbt "runMain graft.tools.BenchSome q67_dup_clusters ..."
package graft.tools

object BenchSome {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // same default as Bench so out-of-the-box numbers are comparable;
    // the driver's recorded runs set SPARK_GRAFT_CPUS=32 explicitly
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.queries.Common.localSession(cpus)
    val meter = new graft.Meter(spark).attach()
    args.foreach { name =>
      // Bench's no-prior stall cap
      val r = graft.Bench.timedReps(spark, meter, sfDir, name, 300.0, 1).last
      val layers = r.layers.attrs.map { case (k, v) => s"$k=$v" }.mkString(" ")
      println(f"[bench-some] $name%-28s ${r.secs}%8.3f s" +
        (if (r.stalled) "  STALLED" else "") + s"  $layers")
    }
    spark.stop()
  }
}
