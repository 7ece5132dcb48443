package qbench

import java.nio.file.{Files, Paths}

/** Tools behind NOTES.md, run by hand.
  *
  * `write` writes `golden.tsv` for the frozen list: name, digest, and
  * whether the query has oracle SQL (digest checked) or not (row count
  * checked).
  *
  * With `fromDumps` (the output dir of `tools/oracle_check.py --run`,
  * whose parquet files DuckDB has compared with the oracle SQL) the
  * digest of each dump is also computed and must equal the digest of the
  * live result; a mismatch is reported and the query is not written.
  */
object Golden {
  def write(benchDir: String, sfDir: String, fromDumps: Option[String]): Int = {
    val spark = Session.start(Runtime.getRuntime.availableProcessors())
    val registry = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    var bad = 0
    val lines = DeclaredList.names(benchDir).flatMap { name =>
      val live = Digest.render(Digest.of(registry(name)(spark, sfDir)))
      val dumped = fromDumps.map(d => s"$d/$name").filter(p => Files.exists(Paths.get(p)))
        .map(p => Digest.render(Digest.of(spark.read.parquet(p))))
      val kind = if (oracle.contains(name)) "oracle" else "rows"
      System.err.println(s"[golden] $name $live $kind dump=${dumped.getOrElse("-")}")
      if (dumped.exists(_ != live)) { bad += 1; None }
      else Some(s"$name\t$live\t$kind")
    }
    Files.write(Paths.get(benchDir, "golden.tsv"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    spark.stop()
    if (bad == 0) 0 else 1
  }

  /** Prints, per query of the frozen list, the median of 3 warm timings
    * of `count()` and of the full-evaluation digest, as a markdown table.
    */
  def countGap(benchDir: String, sfDir: String): Int = {
    val spark = Session.start(Runtime.getRuntime.availableProcessors())
    val registry = graft.SparkEntry.queries
    def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    println("| query | count() s | digest s | digest / count() |")
    println("|---|---|---|---|")
    DeclaredList.names(benchDir).foreach { name =>
      val q = registry(name)
      Digest.of(q(spark, sfDir)) // warm
      val c = Stats.median((1 to 3).map(_ => time(q(spark, sfDir).count())))
      val d = Stats.median((1 to 3).map(_ => time(Digest.of(q(spark, sfDir)))))
      println(f"| $name | $c%.3f | $d%.3f | ${d / c}%.2f |")
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    spark.stop()
    0
  }
}

