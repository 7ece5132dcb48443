package qbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Benchmark entry point.
  *
  * {{{
  * Main --workload qbo_etl|corpus_dedup|declared_mix --seed N --seconds S
  *      --trace 0|1 --bench-dir DIR --sf-dir DIR --state-dir DIR
  *      [--launch-epoch-s T] [--trace-file FILE]
  * Main --golden --bench-dir DIR --sf-dir DIR [--from-dumps DIR]
  * Main --count-gap --bench-dir DIR --sf-dir DIR
  * }}}
  *
  * A run sets up once (session, inputs, server) and makes one untimed
  * warm pass; set-up time runs from the launch of the benchmark process
  * (`--launch-epoch-s`, taken by the runner before it stages inputs and
  * starts the JVM) to the end of that warm pass. Then it runs passes in
  * a closed loop, one client, until `--seconds` have passed. With
  * `--trace 1`, passes alternate untraced and traced; the traced ones
  * give the per-layer metrics and the difference gives the overhead.
  * The last stdout line is the result object.
  */
object Main {

  val Workloads = Seq("qbo_etl", "corpus_dedup", "declared_mix")

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val code =
      try {
        if (args.contains("--golden")) Golden.write(kv("bench-dir"), kv("sf-dir"), kv.get("from-dumps"))
        else if (args.contains("--count-gap")) Golden.countGap(kv("bench-dir"), kv("sf-dir"))
        else runWorkload(kv)
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          2
      }
    System.out.flush()
    // Spark's non-daemon threads must not outlive the result
    Runtime.getRuntime.halt(code)
  }

  private def runWorkload(kv: Map[String, String]): Int = {
    val workload = kv("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val trace = kv.getOrElse("trace", "0") == "1"
    val benchDir = kv("bench-dir")
    val sfDir = kv("sf-dir")
    val nproc = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(graft.queries.Common.scratchRoot, "qbench").toString

    // ---- set-up: from process launch to the end of one warm pass. The
    // untimed warm pass pays class loading, codegen and JIT.
    val launched = kv.get("launch-epoch-s").map(_.toDouble).getOrElse(epochSeconds())
    clear(Paths.get(graft.queries.Common.scratchRoot))
    val spark = Session.start(nproc)
    val run = new Run(spark, nproc, seed)
    val w: Workload = workload match {
      case "qbo_etl" => new QboEtl(run, new QboGen(seed,
        sys.env.get("QBENCH_QBO_ROWS").map(_.toInt).getOrElse(QboGen.RowsPerEntity)))
      case "corpus_dedup" => new CorpusDedup(run, new CorpusGen(seed), work,
        Paths.get(kv("state-dir"), s"corpus_dedup-seed$seed.digest"))
      case "declared_mix" => new DeclaredMix(run, benchDir, sfDir)
    }
    val ready = epochSeconds() - launched
    val warm = onePass(run, w)
    val setup = ready + warm
    // a traced run compares traced with untraced passes, so it makes one
    // more untimed pass first: the pass after the warm pass still pays
    // JIT compilation and would bias the overhead
    if (trace) onePass(run, w)
    val warmFailures = run.failures.toSeq
    run.attempted = 0; run.failed = 0; run.failures.clear(); run.opLatencies.clear()
    run.opByName.clear()

    // ---- timed window: closed loop, one client
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
    val allSpans = mutable.ArrayBuffer.empty[Span]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // traced runs order their passes untraced, traced, traced, untraced, ...
    // so that a warm-up trend does not land on one side of the overhead
    while (elapsed < seconds || plain.isEmpty || (trace && (plain.size < 2 || traced.size < 2))) {
      val i = plain.size + traced.size
      if (trace && (i % 4 == 1 || i % 4 == 2)) {
        val (dt, layers, spans) = tracedPass(run, w, workload)
        traced += dt -> layers
        allSpans ++= spans
      } else plain += onePass(run, w)
    }
    val rss = Hygiene.peakRssMb()
    val retained = Hygiene.retainedMb()
    System.err.println(f"[qbench] memory: peak_rss_mb=$rss%.1f retained_mb=$retained%.1f")

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setup, "s"),
        ("run_s", Stats.median(plain.toSeq), "s"),
        ("op_geomean_s", Stats.geomean(run.opLatencies.toSeq), "s"),
        ("retained_mb", retained, "MB"))
      else {
        val keys = traced.head._2.keys.toSeq
        val med = keys.map(k => k -> Stats.median(traced.map(_._2(k)).toSeq)).toMap
        val overhead = Stats.median(traced.map(_._1).toSeq) - Stats.median(plain.toSeq)
        val path = Paths.get(kv.getOrElse("trace-file", s"${kv("state-dir")}/$workload-seed$seed.jsonl"))
        run.tracer.write(path, allSpans.toSeq)
        System.err.println(s"[qbench] spans written to $path")
        val (tailPct, tailV) = Stats.tail(run.opLatencies.toSeq)
        LayerMetrics.names(benchDir).map(n => (n, n match {
          case "trace.overhead_s" => overhead
          case "trace.spans" => allSpans.size.toDouble / traced.size
          case "op.samples" => run.opLatencies.size.toDouble
          case "op.p50_s" => Stats.median(run.opLatencies.toSeq)
          case "op.tail_pct" => tailPct.toDouble
          case "op.tail_s" => tailV
          case "mem.peak_rss_mb" => rss
          case "mem.retained_mb" => retained
          case other => med.getOrElse(other, 0.0)
        }, LayerMetrics.unit(n)))
      }

    val (tailPct, tailV) = Stats.tail(run.opLatencies.toSeq)
    System.err.println(f"[qbench] $workload seed=$seed setup=$ready%.3f+$warm%.3f " +
      s"passes=${plain.size}+${traced.size} ops=${run.opLatencies.size} " +
      f"op_p$tailPct=$tailV%.4f s")
    System.err.println("[qbench] op medians: " + run.opByName.map { case (n, xs) =>
      f"$n=${Stats.median(xs.toSeq)}%.3f" }.mkString(" "))
    System.err.println("[qbench] passes: " + plain.map(p => f"$p%.3f").mkString(" "))
    System.err.println("[qbench] last pass counters: " + run.counters.map { case (k, v) =>
      s"$k=${Json.num(v)}" }.mkString(" "))
    (warmFailures ++ run.failures).foreach { case (n, why) =>
      System.err.println(s"[qbench] FAILED $n: $why")
    }
    w.close()
    spark.stop()

    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${run.failed == 0 && warmFailures.isEmpty}, "attempted": ${run.attempted}, """ +
      s""""failed": ${run.failed}, "metrics": {$body}}""")
    0
  }

  private def epochSeconds(): Double = {
    val now = java.time.Instant.now()
    now.getEpochSecond + now.getNano / 1e9
  }

  /** Empty a directory (each set-up starts from nothing). */
  def clear(dir: java.nio.file.Path): Unit =
    if (Files.exists(dir)) {
      val w = Files.walk(dir)
      try w.sorted(java.util.Comparator.reverseOrder()).filter(_ != dir)
        .forEach(p => Files.delete(p))
      finally w.close()
    }

  /** One untraced pass; returns its wall seconds. */
  private def onePass(run: Run, w: Workload): Double = {
    val t0 = System.nanoTime()
    run.beginPass()
    w.pass(run)
    w.passCounters(run)
    run.endPass()
    (System.nanoTime() - t0) / 1e9
  }

  /** One traced pass: spans on, meter attached. Returns the wall seconds,
    * the pass's per-layer values and its spans.
    */
  private def tracedPass(run: Run, w: Workload, workload: String)
      : (Double, Map[String, Double], Seq[Span]) = {
    val meter = new EngineMeter(run.spark)
    meter.attach()
    run.tracer = new Tracer(true)
    run.meter = Some(meter)
    val t0 = System.nanoTime()
    val (_, _) = run.tracer.span("workload", workload) { _ =>
      run.beginPass()
      w.pass(run)
      w.passCounters(run)
      run.endPass()
    }
    // side probes are measured inside the pass but are not part of it
    val dt = (System.nanoTime() - t0) / 1e9 - run.counters.getOrElse("probe_s", 0.0)
    val (counts, emit) = meter.take()
    meter.detach()
    emit(run.tracer)
    val spans = LayerMetrics.annotate(run.tracer.spans, counts)
    val layers = LayerMetrics.of(run, spans, counts)
    run.tracer = new Tracer(false)
    run.meter = None
    (dt, layers, spans)
  }
}
