package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times every declared query at
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Each query gets one untimed warm-up execution (JIT + parquet footer
  * cache — otherwise whichever query runs first absorbs ~6 s of JVM
  * warm-up and the numbers measure iteration order, not plans), then
  * up to SPARK_GRAFT_REPS timed runs (default 5; see the budget
  * planner below). The per-query number reported in "queries" is the
  * MEDIAN of the CLEAN (non-stalled) reps; BENCH_full.json
  * additionally carries "queries_min"/"queries_max" and the raw
  * per-rep timings ("queries_reps") — the variance envelope that lets
  * a later reader separate scheduler contention from a real plan
  * regression without re-running (VERDICT-r8 item 6). Rationale: on a
  * shared local[32] box a single timed run is hostage to scheduler
  * contention — two rounds in a row produced phantom regressions (a
  * "16 s" q67, a "2.1 s" q48) that were noise, not plans. The median
  * is robust to one or two contended reps; the min is the best-case
  * floor (closest to an uncontended cluster executor). Queries run in
  * name order.
  *
  * Artifact completeness (round-7): at 172 queries the stdout line with
  * full query names + full-precision doubles grew past the driver's
  * capture limit — BENCH_r06.json truncated at ~60 queries and parsed
  * as null. Two fixes: (a) the stdout "queries"/"queries_min" maps use
  * SHORT keys (the `qNNN` prefix for `qNNN_*` names, the full name
  * otherwise — the prefix is unique by construction) and 3-decimal
  * values, keeping the whole line a few KB; (b) the COMPLETE map with
  * full names and full precision is also written to BENCH_full.json in
  * the repo root (git-tracked per round), referenced from the stdout
  * line as "queries_file".
  *
  * Deliverability on a slow box (round-14, VERDICT-r13 item 1): the
  * round-13 driver run was SIGTERM'd by the harness wall-clock budget
  * mid-board and produced NOTHING (`BENCH_r13.json parsed: null`) —
  * the all-or-nothing artifact was the defect. BENCH_full.json is
  * flushed ATOMICALLY after every query (`"partial":true` until the
  * board completes) and a JVM shutdown hook re-flushes the artifact
  * AND prints the stdout summary line (marked partial) before Spark's
  * own hook stops the context, so even a harness-timeout run can
  * parse.
  *
  * Budget-aware rep PLANNING (round-16, VERDICT-r15 item 1 — replaces
  * the round-14/15 reactive tier degradation, which three driver runs
  * in a row outran: the r15 board timed out at rc=124 with 62 queries
  * silently absent and the 25-query tail recorded "failed" without
  * ever executing):
  *  (a) the rep schedule is computed UP FRONT, not reactively. A
  *      short calibration prefix (the first 5 to-run queries that
  *      have blessed priors) runs at warm+2 reps and yields a box
  *      factor = median(measured median / blessed prior), clamped to
  *      [0.25, 10]. Every query's cost is then estimated as
  *      prior × boxFactor (median prior × boxFactor when it has no
  *      prior), warm-ups at 1.4× a rep, and before EACH query the
  *      planner picks the largest uniform reps r ∈ [1..REPS] whose
  *      projected remaining cost fits 0.85× the budget — 1 warm +
  *      1 rep for every query beats 5 reps for a third of the board
  *      and nothing for the rest. The floor is warm+1: past-budget
  *      overruns degrade to that, never to silence (the per-query
  *      flush + stall watchdog bound the damage). Re-planning each
  *      query makes calibration error self-correcting in both
  *      directions.
  *  (b) in-rep stall ABORT: every execution (warm-ups included) runs
  *      under its own Spark job group with a watchdog that
  *      `cancelJobGroup`s it at the stall cap — max(30 s, 10× the
  *      blessed prior), 300 s with no prior. r15's q109 spent 494 s
  *      completing a rep the cap had already condemned because
  *      nothing cancelled in-flight work; now a stalled rep COSTS the
  *      cap, not the stall. A cancelled rep is recorded at the cap in
  *      queries_reps but EXCLUDED from the median when at least one
  *      clean rep exists (ADVICE r15: a [1 s, 400 s] rep pair must
  *      not record ~200 s); a query whose every rep stalled reports
  *      its capped reading and sits in "stalled".
  *  (c) honest artifacts on kill: board_quality (now folding
  *      n_stalled: >10% stalled reads degraded even when rep counts
  *      held) and n_stalled are written in EVERY incremental flush,
  *      not just the final summary, and "failed" (the query THREW) is
  *      split from "not_run" (the board never reached it) — r15's
  *      artifact called 25 never-executed queries FAILED while they
  *      were oracle-green, a false alarm a reader acts on.
  *  (d) resume: SPARK_GRAFT_BENCH_RESUME=<prior BENCH_full.json>
  *      pre-loads every query that artifact already timed (med ≥ 0)
  *      and runs only the remainder, so a second invocation completes
  *      a killed board instead of repeating its first half.
  *
  * Auto-repin (round-10, VERDICT-r9 item 7): queries whose median
  * moved >1.4× (and >0.4 s) vs the prior board are re-run solo after
  * the board and recorded under "repinned" — prior/sequence/solo
  * medians side by side, movers ranked by med/prior DESC before the
  * 10-slot cap. The reference board is the LAST DRIVER-BLESSED one —
  * BENCH_blessed.json, a maintained per-query snapshot of the newest
  * driver-parsed medians — NOT whatever BENCH_full.json a prior
  * intra-round run left on disk. Repin reps carry the same per-rep
  * stall bail as the main loop (ADVICE r15: a stall that begins after
  * a clean repin warm-up must not run every remaining solo rep at
  * stall duration).
  *
  * Layers: one [[Meter]] rides the session and every timed execution
  * is one meter window, so the artifact's "layers" section holds, per
  * query, what the engine reported for its last clean rep (the last
  * rep when none is clean): jobs, stages, tasks, scan tasks, executor
  * run and CPU time, GC, shuffle bytes written and read, spill, peak
  * execution memory, plan build time, classes compiled, the Exchange
  * nodes and interpreted lambdas of the executed plans, and the
  * micro-batches of streaming drains. Resumed queries carry no record.
  */
object Bench {

  /** One timed execution: wall seconds, whether the stall watchdog
    * fired, and what [[Meter]] saw in its window.
    */
  final case class Reading(secs: Double, stalled: Boolean, layers: Layers)

  /** The input dir every bench tool reads: `SPARK_GRAFT_SF_DIR`. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** `local[n]` width of every bench tool's session: `SPARK_GRAFT_CPUS`.
    * The recorded boards set 32 explicitly.
    */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** One untimed warm-up, then up to `n` timed reps of query `name`
    * under the stall guard, each in its own meter window. The reps stop
    * at the first stalled one (ADVICE r15: a stall that begins after a
    * clean warm-up must not run every remaining rep at stall duration);
    * a stalled warm-up is returned as the lone reading — a stall is box
    * weather, more reps of it are not data.
    */
  def timedReps(spark: SparkSession, meter: Meter, sfDir: String,
      name: String, capSec: Double, n: Int): Seq[Reading] = {
    val fn = SparkEntry.queries(name)
    def run(): Reading = {
      val (secs, stalled) = StallGuard.timedRun(spark, name, capSec) {
        fn(spark, sfDir).count(): Unit
      }
      Reading(secs, stalled, meter.take())
    }
    val warm = run()
    if (warm.stalled) Seq(warm)
    else {
      val acc = scala.collection.mutable.ArrayBuffer.empty[Reading]
      while (acc.size < n && !acc.lastOption.exists(_.stalled)) acc += run()
      acc.toSeq
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Bench.sfDir
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt.max(1)
    val fullOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL",
      "/root/repo/BENCH_full.json")
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "1800")
      .toDouble
    val boardT0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - boardT0) / 1e9

    // NOTE: forcing small file splits (spark.sql.files.maxPartitionBytes
    // = 2m) to parallelize the single ~20 MB-per-table scans was
    // measured SLOWER here (23.4s vs 19.5s total): per-split scheduling
    // and footer overhead beats scan parallelism at this scale. The
    // default split size stays; on a real cluster the same knob is
    // sized to executor memory, not to core count.
    val spark = graft.queries.Common.localSession(cpus)
    val meter = new Meter(spark).attach()

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

    // Repin reference: explicit SPARK_GRAFT_BENCH_PRIOR wins; default is
    // the driver-blessed snapshot (BENCH_blessed.json next to fullOut);
    // last resort the previous BENCH_full.json. Keys in the blessed file
    // are FULL names; a hand-pointed prior may carry short keys (driver
    // tail), so lookups below try both forms.
    val priorPath = sys.env.get("SPARK_GRAFT_BENCH_PRIOR").getOrElse {
      val blessed = java.nio.file.Paths.get(fullOut)
        .resolveSibling("BENCH_blessed.json")
      if (java.nio.file.Files.isReadable(blessed)) blessed.toString
      else fullOut
    }
    // The "section": {"k": <num> | [nums], ...} maps of a prior
    // artifact, found at any depth (a wrapped board nests them);
    // a file that is not JSON yields none.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def sectionOf(txt: String, section: String)
        : Seq[(String, com.fasterxml.jackson.databind.JsonNode)] =
      try Option(mapper.readTree(txt).findValue(section)).toSeq
        .flatMap(_.properties().asScala.map(e => e.getKey -> e.getValue))
      catch { case _: java.io.IOException => Nil }
    def scrapeNumMap(txt: String, section: String): Map[String, Double] =
      sectionOf(txt, section).collect {
        case (k, v) if v.isNumber => k -> v.asDouble }.toMap
    def scrapeArrMap(txt: String, section: String): Map[String, Seq[Double]] =
      sectionOf(txt, section).collect {
        case (k, v) if v.isArray => k -> v.elements().asScala.map(_.asDouble).toSeq
      }.toMap
    def readText(path: String): Option[String] =
      try Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8"))
      catch { case _: Throwable => None }

    val prior: Map[String, Double] =
      readText(priorPath).map(scrapeNumMap(_, "queries")).getOrElse(Map.empty)

    // short key: the unique qNNN prefix for qNNN_* names (matches the
    // driver contract's own "q1" example), full name otherwise
    val ShortKey = "^(q[0-9]+)_.*$".r
    def short(name: String): String = name match {
      case ShortKey(p) => p
      case other => other
    }
    def priorOf(name: String): Double =
      prior.getOrElse(name, prior.getOrElse(short(name), -1.0))

    // Locale.ROOT (ADVICE-r7): f"" interpolation formats under the JVM
    // default locale — a comma-decimal locale would emit invalid JSON.
    def fmt3(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    def jmap(entries: Seq[(String, String)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")

    val names = SparkEntry.queries.keys.toSeq.sorted

    // ---- shared mutable board state (main loop writes, flush reads).
    // ALL of results/degraded/repinned/stalled/layers are guarded by the ONE
    // `results` monitor — the shutdown hook renders on its own thread
    // while the main loop may be mid-append, and mixed locks let the
    // partial-flush path iterate an ArrayBuffer mid-append (ADVICE r14).
    val results = scala.collection.mutable.ArrayBuffer
      .empty[(String, (Double, Double, Double, Seq[Double]))]
    val degraded = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    val stalled = scala.collection.mutable.ArrayBuffer.empty[String]
    val resumed = scala.collection.mutable.ArrayBuffer.empty[String]
    val repinned = scala.collection.mutable.ArrayBuffer
      .empty[(String, (Double, Double, Double, Seq[Double]))]
    val layers = scala.collection.mutable.ArrayBuffer.empty[(String, Layers)]
    val finished = new java.util.concurrent.atomic.AtomicBoolean(false)

    // ---- resume mode (VERDICT-r15 item 1d): pre-load every query a
    // prior artifact already timed; "failed" (med<0) entries re-run.
    sys.env.get("SPARK_GRAFT_BENCH_RESUME").foreach { rp =>
      readText(rp) match {
        case None =>
          System.err.println(s"[bench] resume file unreadable: $rp")
        case Some(txt) =>
          val meds = scrapeNumMap(txt, "queries")
          val mins = scrapeNumMap(txt, "queries_min")
          val maxs = scrapeNumMap(txt, "queries_max")
          val repsOf = scrapeArrMap(txt, "queries_reps")
          for (name <- names; med <- meds.get(name) if med >= 0) {
            results += ((name, (med, mins.getOrElse(name, med),
              maxs.getOrElse(name, med),
              repsOf.getOrElse(name, Seq(med)))))
            resumed += name
          }
          System.err.println(
            s"[bench] resumed ${resumed.size} timed queries from $rp")
      }
    }
    val doneSet = results.map(_._1).toSet
    val toRun = names.filterNot(doneSet)

    // board_quality folds stalls (ADVICE r15): a board where >10% of
    // queries stalled is not a "full"-quality number even when every
    // rep count held. Computed against the queries actually run.
    def quality: String = {
      val n = results.size.max(1)
      if (degraded.size * 2 > n || stalled.distinct.size * 10 > n) "degraded"
      else "full"
    }

    def renderFull(partial: Boolean): String = results.synchronized {
      val ran = results.map(_._1).toSet
      val notRun = names.filterNot(ran).map("\"" + _ + "\"")
      val failed = results.collect {
        case (k, (med, _, _, _)) if med < 0 => "\"" + k + "\"" }
      val total = results.map(_._2._1).filter(_ >= 0).sum
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,""" +
      s""""partial":$partial,"n_run":${results.size},""" +
      s""""n_declared":${names.size},""" +
      s""""board_quality":"$quality","n_stalled":${stalled.distinct.size},""" +
      s""""n_degraded":${degraded.size},""" +
      s""""sf":"$sfDir","key_scheme":"full",""" +
      s""""queries":${jmap(results.toSeq.map { case (k, (med, _, _, _)) => k -> med.toString })},""" +
      s""""queries_min":${jmap(results.toSeq.map { case (k, (_, mn, _, _)) => k -> mn.toString })},""" +
      s""""queries_max":${jmap(results.toSeq.map { case (k, (_, _, mx, _)) => k -> mx.toString })},""" +
      s""""queries_reps":${jmap(results.toSeq.map { case (k, (_, _, _, ts)) =>
        k -> ts.map(fmt3).mkString("[", ",", "]") })},""" +
      s""""degraded":${jmap(degraded.toSeq.map { case (k, r) => k -> r.toString })},""" +
      s""""stalled":[${stalled.distinct.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""resumed":[${resumed.map("\"" + _ + "\"").mkString(",")}],""" +
      s""""reps_effective":${jmap(results.toSeq.map { case (k, (_, _, _, ts)) =>
        k -> ts.length.toString })},""" +
      s""""prior_ref":"$priorPath",""" +
      s""""repinned":${jmap(repinned.toSeq.map { case (k, (p, seqMed, solo, ts)) =>
        k -> (s"""{"prior":$p,"sequence":$seqMed,"solo":$solo,""" +
          s""""solo_reps":${ts.map(fmt3).mkString("[", ",", "]")}}""") })},""" +
      s""""failed":[${failed.mkString(",")}],""" +
      s""""not_run":[${notRun.mkString(",")}],""" +
      s""""layers":${jmap(layers.toSeq.map { case (k, l) => k -> jmap(l.attrs) })}}"""
    }
    def renderStdout(partial: Boolean): String = results.synchronized {
      val ran = results.map(_._1).toSet
      val notRun = names.filterNot(ran).map("\"" + short(_) + "\"")
      val failed = results.collect {
        case (k, (med, _, _, _)) if med < 0 => "\"" + short(k) + "\"" }
      val total = results.map(_._2._1).filter(_ >= 0).sum
      val qs = jmap(results.toSeq.map { case (k, (med, _, _, _)) =>
        short(k) -> fmt3(med) })
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,""" +
      s""""partial":$partial,"n_run":${results.size},""" +
      s""""n_declared":${names.size},""" +
      s""""key_scheme":"qNNN prefix of full query name",""" +
      s""""queries_file":"$fullOut","queries":$qs,""" +
      s""""failed":[${failed.mkString(",")}],""" +
      s""""not_run":[${notRun.mkString(",")}],""" +
      // reps_effective summary (VERDICT-r14 item 4): a top-level
      // "reps":5 header over a board where most queries ran 1–2 reps
      // misleads; board_quality says so up front
      s""""n_degraded":${degraded.size},"n_stalled":${stalled.distinct.size},""" +
      s""""n_resumed":${resumed.size},""" +
      s""""board_quality":"$quality",""" +
      s""""repinned":${repinned.size},"sf":"$sfDir"}"""
    }
    // Atomic flush: write sibling tmp then ATOMIC_MOVE over the target —
    // a SIGTERM between the two leaves the previous complete artifact,
    // never a torn JSON.
    def flush(partial: Boolean): Unit = {
      val json = renderFull(partial)
      try {
        val out = java.nio.file.Paths.get(fullOut)
        val tmp = out.resolveSibling(out.getFileName.toString + ".tmp")
        java.nio.file.Files.writeString(tmp, json + "\n")
        java.nio.file.Files.move(tmp, out,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $fullOut: ${e.getMessage}")
      }
    }
    // Harness-timeout insurance: if the JVM is torn down mid-board
    // (SIGTERM → Spark's shutdown hook stops the context and every
    // in-flight query dies), flush what we have and emit the stdout
    // line marked partial — a truncated board must still parse.
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (!finished.get()) {
        flush(partial = true)
        println(renderStdout(partial = true))
        System.out.flush()
      }
    }, "bench-partial-flush"))

    // ---- in-rep stall watchdog (VERDICT-r15 item 1b). Every timed
    // execution runs under its own job group; the watchdog cancels the
    // group at the cap, so a stalled rep costs the cap, not the stall.
    // Mechanism lives in [[StallGuard]] (spec-refereed).
    def stallCapOf(name: String): Double = {
      val p = priorOf(name)
      if (p > 0) math.max(30.0, 10.0 * p) else 300.0
    }

    // ---- budget planner (VERDICT-r15 item 1a). Cost model: each rep
    // of q costs est(q); the warm-up costs WarmFactor × est(q).
    val WarmFactor = 1.4
    val PlanFraction = 0.85 // the last ~15% is the repin reserve
    val priorVals = toRun.map(priorOf).filter(_ > 0)
    val medianPrior = if (priorVals.isEmpty) 1.0 else median(priorVals)
    val boxFactor = new java.util.concurrent.atomic.AtomicReference[Double](1.0)
    def estOf(name: String): Double = {
      val p = priorOf(name)
      (if (p > 0) p else medianPrior) * boxFactor.get()
    }
    /** Largest uniform reps r ∈ [1..reps] whose projected cost over
      * `remaining` fits what is left of the planning budget. Floor 1.
      */
    def planReps(remaining: Seq[String]): Int = {
      val left = budgetSec * PlanFraction - elapsed
      val base = remaining.map(estOf).sum
      if (base <= 0) reps
      else {
        val r = ((left - WarmFactor * base) / base).toInt
        math.max(1, math.min(reps, r))
      }
    }

    // Calibration prefix: the first 5 to-run queries with blessed
    // priors run at warm+2 (enough for a median, cheap enough to not
    // eat the board) and set the box factor all planning uses. Their
    // own entries are recorded like any other query's.
    val calibSet = toRun.filter(priorOf(_) > 0).take(5).toSet

    /** Run one query with `repsHere` planned reps; records results/
      * degraded/stalled/layers and returns the clean-rep medians for
      * calibration use. Median excludes stalled reps when any clean
      * rep exists (ADVICE r15); queries_reps keeps every reading.
      */
    def runQuery(name: String, repsHere: Int): Option[Double] = {
      if (repsHere < reps) results.synchronized {
        degraded += ((name, repsHere)) }
      val entry =
        try {
          val readings = timedReps(spark, meter, sfDir, name,
            stallCapOf(name), repsHere)
          graft.queries.Common.unpersistAll(spark)
          // stalled reps sit in queries_reps for transparency but are
          // excluded from the median/min when a clean rep exists — a
          // cancelled-at-cap reading is a floor on the stall, not a
          // measurement of the plan
          val clean = readings.filterNot(_.stalled)
          val forStats = if (clean.nonEmpty) clean else readings
          val times = forStats.map(_.secs)
          results.synchronized {
            if (clean.size < readings.size) stalled += name
            layers += ((name, forStats.last.layers))
          }
          (median(times), times.min, times.max, readings.map(_.secs))
        } catch {
          case e: Throwable =>
            // loud failure: a crashed query must read as a regression,
            // not as a faster total
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            graft.queries.Common.unpersistAll(spark)
            (-1.0, -1.0, -1.0, Seq.empty[Double])
        }
      results.synchronized { results += ((name, entry)) }
      flush(partial = true) // per-query partial artifact (round-14)
      if (entry._1 >= 0) Some(entry._1) else None
    }

    // ---- main loop: calibration prefix at warm+2, then planned reps.
    val calibRatios = scala.collection.mutable.ArrayBuffer.empty[Double]
    for ((name, idx) <- toRun.zipWithIndex) {
      val repsHere =
        if (calibSet.contains(name)) math.min(reps, 2)
        else planReps(toRun.drop(idx))
      runQuery(name, repsHere).foreach { med =>
        if (calibSet.contains(name) && priorOf(name) > 0) {
          calibRatios += med / priorOf(name)
          if (calibRatios.size == calibSet.size) {
            val bf = math.max(0.25, math.min(10.0, median(calibRatios.toSeq)))
            boxFactor.set(bf)
            System.err.println(
              f"[bench] calibration: box factor $bf%.2f from " +
                s"${calibRatios.size} queries; planned reps for the " +
                s"rest of the board: ${planReps(toRun.drop(idx + 1))}")
          }
        }
      }
    }

    // auto-repin (VERDICT-r9 item 7): any query whose full-sequence
    // median moved >1.4× vs the driver-blessed board (and by >0.4 s —
    // the judge's own materiality gate) is re-run SOLO at the end of
    // the board — fresh reps with nothing interleaved. Both numbers
    // land in the artifact's "repinned" section so the next judge
    // diffs numbers, not adjectives. Capped at 10 movers ranked by
    // med/prior DESC — more than that means the BOX moved, not the
    // queries. Resumed queries are excluded (their numbers came from
    // another run's conditions).
    val movers = results.synchronized {
      val resumedSet = resumed.toSet
      results.collect {
        case (k, (med, _, _, _)) if med > 0 && priorOf(k) > 0 &&
            !resumedSet.contains(k) &&
            (med / priorOf(k) > 1.4 || priorOf(k) / med > 1.4) &&
            math.abs(med - priorOf(k)) > 0.4 =>
          (k, math.max(med / priorOf(k), priorOf(k) / med))
      }.sortBy(-_._2).map(_._1).take(10).toSeq
    }
    // repins run inside the headroom the planner reserved
    // (budget × 0.85 … 1.05) — on a degraded board they are the only
    // trustworthy numbers, so they must not be the first thing skipped
    for (name <- movers if elapsed < budgetSec * 1.05) {
      System.err.println(s"[bench] repin $name: sequence median moved " +
        s"vs blessed prior ${priorOf(name)}")
      val repinReps = if (elapsed > budgetSec * 0.85) 2 else reps
      // stalled solo reps are no data: only clean reps are kept
      val times =
        try {
          val readings = timedReps(spark, meter, sfDir, name,
            stallCapOf(name), repinReps)
          if (readings.exists(_.stalled)) results.synchronized { stalled += name }
          readings.filterNot(_.stalled).map(_.secs)
        } catch { case _: Throwable => Seq.empty[Double] }
      graft.queries.Common.unpersistAll(spark)
      val seqMed = results.synchronized { results.toMap.apply(name)._1 }
      results.synchronized {
        repinned += ((name, (priorOf(name), seqMed,
          if (times.isEmpty) -1.0 else median(times), times)))
      }
      flush(partial = true)
    }

    // complete, full-precision, full-name artifact for the repo;
    // queries_max + queries_reps carry the per-query variance envelope
    finished.set(true)
    flush(partial = false)

    // stdout stays well under capture-truncation size: short keys,
    // 3 decimals, medians only (mins + full names + full precision are
    // in the queries_file artifact)
    println(renderStdout(partial = false))
    val anyFailed = results.synchronized {
      results.exists(_._2._1 < 0) }
    spark.stop()
    if (anyFailed) sys.exit(1)
  }
}
