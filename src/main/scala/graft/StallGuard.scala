package graft

import org.apache.spark.sql.SparkSession

/** In-rep stall abort for [[Bench]] (VERDICT-r15 item 1b): runs a
  * body under its own Spark job group with a watchdog that cancels
  * the group — and stops any active streaming queries, whose
  * micro-batch jobs run on the stream's own threads outside the
  * group — once the stall cap elapses. The r15 driver board spent
  * 494 s completing a q109 rep the stall cap had already condemned,
  * because the cap only stopped FUTURE reps; with the guard a
  * stalled rep costs the cap, not the stall.
  *
  * Returned flag semantics: `true` means the watchdog fired — either
  * the cancellation surfaced as a thrown job-cancelled error, or the
  * body completed after the cap (e.g. a drain whose stopped stream
  * returned a partial result). Both are stalled readings, not
  * measurements. A throw with the watchdog NOT fired propagates — a
  * genuine query failure must stay a failure.
  */
object StallGuard {

  private val watchdog = java.util.concurrent.Executors
    .newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "bench-stall-watchdog")
      t.setDaemon(true)
      t
    })
  private val groupSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** One timed execution of `body` under the watchdog: returns
    * (wall seconds, stalledFlag).
    */
  def timedRun(spark: SparkSession, name: String, capSec: Double)(
      body: => Unit): (Double, Boolean) = {
    val gid = s"bench-${groupSeq.incrementAndGet()}-$name"
    val tripped = new java.util.concurrent.atomic.AtomicBoolean(false)
    val sc = spark.sparkContext
    sc.setJobGroup(gid, s"bench $name", interruptOnCancel = true)
    // REPEATING, not one-shot (measured via StallGuardSpec): a single
    // cancellation volley at the cap missed a job whose submission was
    // still in planning/codegen when the volley fired — cancelAllJobs
    // only kills jobs active at that instant, and AQE submits stages
    // as prior ones finish. Re-fire until the body returns; every
    // volley is idempotent.
    val timer = watchdog.scheduleWithFixedDelay(new Runnable {
      def run(): Unit = {
        if (!tripped.getAndSet(true))
          System.err.println(
            f"[bench] $name rep exceeded stall cap ($capSec%.1f s): cancelling")
        try sc.cancelJobGroup(gid) catch { case _: Throwable => }
        // the group cancel alone is NOT enough: AQE materializes
        // shuffle stages through its own QueryStageCreator threads and
        // (measured; StallGuardSpec's "a stalled job is cancelled at
        // the cap" runs the same filtered-range count) those map-stage
        // jobs do not carry the caller's job group — cancelJobGroup left
        // the job running and count() parked in withFinalPlanUpdate forever,
        // while cancelAllJobs both failed the job (count threw in
        // ~0.1 s) and actually killed the codegen tasks (0 burning
        // threads after). The bench JVM is single-tenant and runs
        // queries serially, so every active job belongs to the rep
        // being condemned — cancelAllJobs is exact here, not a
        // sledgehammer. NOT safe in a shared session.
        try sc.cancelAllJobs() catch { case _: Throwable => }
        // streaming drains run their micro-batch jobs on the stream's
        // OWN threads under Spark's per-stream job group — stop the
        // streams too, so a stalled drain unblocks its
        // awaitTermination at the cap (cancelAllJobs kills the
        // in-flight micro-batch; stop() keeps it from starting the
        // next one)
        try spark.streams.active.foreach(q =>
          try q.stop() catch { case _: Throwable => })
        catch { case _: Throwable => }
      }
    }, (capSec * 1000).toLong,
      math.max(1000L, (capSec * 250).toLong),
      java.util.concurrent.TimeUnit.MILLISECONDS)
    val t0 = System.nanoTime()
    try {
      body
      ((System.nanoTime() - t0) / 1e9, tripped.get())
    } catch {
      case _: Throwable if tripped.get() =>
        ((System.nanoTime() - t0) / 1e9, true)
    } finally {
      timer.cancel(false)
      sc.clearJobGroup()
    }
  }
}
