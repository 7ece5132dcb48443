// Dev tool: Bench-identical timing (warm-up + one timed rep, the same
// meter window) for NAMED queries only, for iterating on individual
// plans without the full run. Prints each query's wall time next to
// its `layers` record, then the JVM's metaspace.
// Usage: sbt "runMain graft.tools.BenchSome q67_dup_clusters ..."
package graft.tools

import scala.jdk.CollectionConverters._

object BenchSome {
  def main(args: Array[String]): Unit = {
    val spark = graft.queries.Common.localSession(graft.Bench.cpus)
    val meter = new graft.Meter(spark).attach()
    args.foreach { name =>
      // Bench's no-prior stall cap
      val r = graft.Bench.timedReps(spark, meter, graft.Bench.sfDir, name, 300.0, 1).last
      val layers = r.layers.attrs.map { case (k, v) => s"$k=$v" }.mkString(" ")
      println(f"[bench-some] $name%-28s ${r.secs}%8.3f s" +
        (if (r.stalled) "  STALLED" else "") + s"  $layers")
    }
    // what the generated classes cost (the codegen cache holds them)
    val metaspace = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName == "Metaspace").map(_.getUsage.getUsed).sum
    println(f"[bench-some] metaspace ${metaspace / 1048576.0}%.1f MB")
    spark.stop()
  }
}
