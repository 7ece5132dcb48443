package graft

import org.apache.spark.GraftBus
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange

/** The per-query meter behind Bench's `layers` record: every field is
  * reported, counts are credited to the window they ran in, the plan
  * facts match the executed plan, and a detached meter leaves nothing
  * registered.
  */
class MeterSpec extends SparkSpec {

  private val fields = Seq("jobs", "stages", "tasks", "scan_tasks", "executor_run_s",
    "executor_cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "peak_exec_mem_bytes", "plan_s", "compiles", "exchanges",
    "interpreted_lambdas", "batches", "batch_ms", "add_batch_ms", "wal_commit_ms",
    "commit_offsets_ms", "query_planning_ms")

  private object Direct extends AdaptiveSparkPlanHelper {
    def exchanges(plan: SparkPlan): Int =
      collectWithSubqueries(plan) { case e: Exchange => e }.size
  }

  /** Runs `name` once untimed, then once inside a fresh window. */
  private def metered(meter: Meter, name: String): Layers = {
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir).count()
    meter.take()
    fn(spark, sfDir).count()
    meter.take()
  }

  private def withMeter[A](body: Meter => A): A = {
    val meter = new Meter(spark).attach()
    try body(meter) finally meter.detach()
  }

  test("a shuffle query, a checkpointing query and a streaming drain " +
      "report every layers field") {
    withMeter { meter =>
      val shuffle = metered(meter, "q01_pricing_summary")
      val checkpointing = metered(meter, "q280_exact_dup_substring")
      val drain = metered(meter, "q134_stream_stream_join")
      for ((name, l) <- Seq("shuffle" -> shuffle,
          "checkpointing" -> checkpointing, "drain" -> drain)) {
        assert(l.attrs.map(_._1) == fields, name)
        assert(l.attrs.forall(_._2.matches("[0-9]+(\\.[0-9]+)?")), s"$name: ${l.attrs}")
        assert(l.jobs > 0 && l.stages > 0 && l.tasks > 0, s"$name: $l")
        assert(l.exchanges > 0, s"$name: $l")
      }
      assert(shuffle.shuffleWriteBytes > 0 && shuffle.shuffleReadBytes > 0, shuffle)
      assert(shuffle.scanTasks > 0 && shuffle.scanTasks < shuffle.tasks, shuffle)
      assert(shuffle.batches == 0 && checkpointing.batches == 0)
      assert(drain.batches >= 1 && drain.batchMs > 0, drain)
      // the phase split: a drain's batches spend time running into the sink
      assert(drain.addBatchMs > 0 && drain.addBatchMs <= drain.batchMs, drain)
      assert(shuffle.addBatchMs == 0 && checkpointing.queryPlanningMs == 0)
    }
  }

  test("exchanges equal a direct Exchange count on the executed plan") {
    withMeter { meter =>
      val df = SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
      meter.take()
      df.collect()
      val l = meter.take()
      val direct = Direct.exchanges(df.queryExecution.executedPlan)
      assert(direct > 0)
      assert(l.exchanges == direct, l)
    }
  }

  test("consecutive windows do not bleed counts into each other") {
    withMeter { meter =>
      val first = metered(meter, "q01_pricing_summary")
      assert(meter.take() == Layers(), "an idle window read counts")
      val again = metered(meter, "q01_pricing_summary")
      assert(first.tasks > 0)
      assert((again.jobs, again.stages, again.tasks, again.exchanges) ==
        (first.jobs, first.stages, first.tasks, first.exchanges))
      spark.range(10).collect()
      val tiny = meter.take()
      assert(tiny.jobs == 1 && tiny.exchanges == 0 &&
        tiny.shuffleWriteBytes == 0, tiny)
    }
  }

  test("a detached meter leaves no listener registered") {
    val meter = new Meter(spark).attach()
    assert(GraftBus.listeners(spark).count(_ eq meter) == 1)
    val attached = GraftBus.listeners(spark).size
    meter.detach()
    // its SparkListener and its StreamingQueryListener are gone ...
    assert(!GraftBus.listeners(spark).exists(_ eq meter))
    assert(GraftBus.listeners(spark).size == attached - 2)
    // ... and so is its QueryExecutionListener: a query with an
    // Exchange leaves no plan facts behind
    spark.range(10).count()
    assert(meter.take() == Layers())
  }

  test("a BENCH_full.json that carries layers resumes through " +
      "SPARK_GRAFT_BENCH_RESUME") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bench")
    val names = SparkEntry.queries.keys.toSeq.sorted
    val timed = Seq("q01_pricing_summary", "q81_percent_rank")
    val prior = names.filterNot(timed.contains)
    def section(f: String => String) =
      prior.map(n => "\"" + n + "\":" + f(n)).mkString("{", ",", "}")
    // a prior artifact whose layers section (nested maps) sits ahead
    // of the scraped sections
    val seed = dir.resolve("seed.json")
    java.nio.file.Files.writeString(seed,
      s"""{"layers":${section(_ => """{"jobs":3,"plan_s":0.010}""")},""" +
      s""""queries":${section(_ => "0.5")},"queries_min":${section(_ => "0.4")},""" +
      s""""queries_max":${section(_ => "0.6")},""" +
      s""""queries_reps":${section(_ => "[0.4,0.5,0.6]")}}""")

    val first = dir.resolve("first.json")
    val out1 = runBench(seed, first)
    val art1 = java.nio.file.Files.readString(first)
    assert(out1.startsWith("""{"metric":"total","value":"""), out1)
    assert(!out1.contains("layers"), "the stdout line must keep its shape")
    assert(art1.contains(s""""n_run":${names.size},"""), art1.take(300))
    assert(art1.contains(""""failed":[],"not_run":[],"layers":{"""))
    assert(art1.contains("\"q02_filter_project\":0.5,"))
    assert(art1.contains("\"q02_filter_project\":[0.400,0.500,0.600]"))
    val layers = art1.substring(art1.indexOf("\"layers\":"))
    for (n <- timed) {
      assert(layers.contains("\"" + n + "\":{\"jobs\":"), n)
      fields.foreach(f => assert(layers.contains("\"" + f + "\":"), f))
    }
    assert(!layers.contains("q02_filter_project"), "resumed queries carry no record")

    // the artifact just written, layers and all, resumes every query
    val second = dir.resolve("second.json")
    runBench(first, second)
    val art2 = java.nio.file.Files.readString(second)
    def medians(art: String): Map[String, String] = {
      val body = "\"queries\":\\{([^}]*)\\}".r.findFirstMatchIn(art).get.group(1)
      "\"([^\"]+)\":([^,]+)".r.findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2)).toMap
    }
    assert(medians(art1).size == names.size)
    assert(medians(art2) == medians(art1))
    val resumed = "\"resumed\":\\[([^\\]]*)\\]".r.findFirstMatchIn(art2).get.group(1)
    assert(resumed.split(',').length == names.size)
    assert(art2.contains(""""layers":{}}"""), art2.takeRight(200))
    Seq(seed, first, second, dir).foreach(java.nio.file.Files.delete)
  }

  /** Runs `graft.Bench` in a child JVM on sf0.001 and returns its stdout. */
  private def runBench(resume: java.nio.file.Path,
      full: java.nio.file.Path): String = {
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(sys.props("java.home") + "/bin/java") ++ jvmArgs ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"), "graft.Bench")
    val pb = new ProcessBuilder(cmd.asJava)
      .redirectError(ProcessBuilder.Redirect.DISCARD)
    val env = pb.environment()
    env.remove("SPARK_GRAFT_BENCH_PRIOR")
    env.put("SPARK_GRAFT_SF_DIR", sfDir)
    env.put("SPARK_GRAFT_CPUS", "2")
    env.put("SPARK_GRAFT_REPS", "1")
    env.put("SPARK_GRAFT_BENCH_FULL", full.toString)
    env.put("SPARK_GRAFT_BENCH_RESUME", resume.toString)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 0, out)
    out.linesIterator.filter(_.startsWith("{\"metric\"")).toSeq.last
  }
}
