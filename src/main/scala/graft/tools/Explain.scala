// Dev tool: print formatted plans for named queries.
// Usage: sbt "runMain graft.tools.Explain q34_minhash_lsh_pairs ..."
package graft.tools

object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.queries.Common.localSession("8")
    // "exec:<name>" runs the query first so the printed AQE plan is the
    // final runtime plan (shows ReusedExchange/ReusedQueryStage decisions).
    args.foreach { arg =>
      val exec = arg.startsWith("exec:")
      val name = if (exec) arg.stripPrefix("exec:") else arg
      println(s"===== $name =====")
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      // collect() (not count()) so THIS df's QueryExecution materializes
      // and the AQE plan printed below is its final runtime plan
      if (exec) { df.collect(); println(df.queryExecution.executedPlan.toString) }
      else df.explain("formatted")
    }
    spark.stop()
  }
}
