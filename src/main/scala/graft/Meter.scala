package graft

import org.apache.spark.GraftBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What the engine reported inside one [[Meter]] window: scheduler and
  * task counts, the plan build time and plan facts of every query
  * execution that finished, and the micro-batches of streaming drains
  * with the split of their duration into the engine's reported phases:
  * `addBatch` (running the batch's plan into the sink), `walCommit`
  * (the offset log write), `commitOffsets` (the commit log write) and
  * `queryPlanning` (planning the batch's incremental execution).
  * `scanTasks` counts the tasks of the stages that read files: the scan
  * parallelism the input's file and row-group layout allowed.
  * `compiles` counts the classes Janino compiled in the window,
  * JVM-wide (planning and local executors alike).
  */
final case class Layers(
    jobs: Long = 0L, stages: Long = 0L, tasks: Long = 0L, scanTasks: Long = 0L,
    executorRunMs: Long = 0L, executorCpuNs: Long = 0L, gcMs: Long = 0L,
    shuffleWriteBytes: Long = 0L, shuffleReadBytes: Long = 0L, spillBytes: Long = 0L,
    peakExecMemBytes: Long = 0L, planMs: Long = 0L, compiles: Long = 0L, exchanges: Long = 0L,
    interpretedLambdas: Long = 0L, batches: Long = 0L, batchMs: Long = 0L,
    addBatchMs: Long = 0L, walCommitMs: Long = 0L, commitOffsetsMs: Long = 0L,
    queryPlanningMs: Long = 0L) {

  /** The `layers` record of `BENCH_full.json`: name → JSON number. */
  def attrs: Seq[(String, String)] = {
    def secs(x: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
    Seq("jobs" -> jobs.toString, "stages" -> stages.toString,
      "tasks" -> tasks.toString, "scan_tasks" -> scanTasks.toString,
      "executor_run_s" -> secs(executorRunMs / 1e3),
      "executor_cpu_s" -> secs(executorCpuNs / 1e9), "gc_s" -> secs(gcMs / 1e3),
      "shuffle_write_bytes" -> shuffleWriteBytes.toString,
      "shuffle_read_bytes" -> shuffleReadBytes.toString,
      "spill_bytes" -> spillBytes.toString,
      "peak_exec_mem_bytes" -> peakExecMemBytes.toString,
      "plan_s" -> secs(planMs / 1e3), "compiles" -> compiles.toString,
      "exchanges" -> exchanges.toString,
      "interpreted_lambdas" -> interpretedLambdas.toString,
      "batches" -> batches.toString, "batch_ms" -> batchMs.toString,
      "add_batch_ms" -> addBatchMs.toString, "wal_commit_ms" -> walCommitMs.toString,
      "commit_offsets_ms" -> commitOffsetsMs.toString,
      "query_planning_ms" -> queryPlanningMs.toString)
  }
}

/** One per-window meter over a session: a `SparkListener` for jobs,
  * stages and task metrics, a `QueryExecutionListener` for plan build
  * time and plan facts, and a `StreamingQueryListener` for micro-batch
  * progress. Everything the bus delivers between two `take()` calls is
  * credited to that window, so windows must wrap serial work: AQE
  * map-stage jobs do not carry the caller's job group (see
  * [[StallGuard]]), so a job group cannot attribute them.
  */
final class Meter(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  private var window = Layers()
  private def add(f: Layers => Layers): Unit = synchronized { window = f(window) }

  private def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  /** The JVM's compile count when the window began; None while detached. */
  private var compiledAtStart: Option[Long] = None

  private val streams = new StreamingQueryListener {
    import StreamingQueryListener._
    def onQueryStarted(e: QueryStartedEvent): Unit = ()
    def onQueryProgress(e: QueryProgressEvent): Unit = {
      val phases = e.progress.durationMs
      def ms(phase: String): Long = Option(phases.get(phase)).fold(0L)(_.longValue)
      add(l => l.copy(batches = l.batches + 1,
        batchMs = l.batchMs + e.progress.batchDuration,
        addBatchMs = l.addBatchMs + ms("addBatch"),
        walCommitMs = l.walCommitMs + ms("walCommit"),
        commitOffsetsMs = l.commitOffsetsMs + ms("commitOffsets"),
        queryPlanningMs = l.queryPlanningMs + ms("queryPlanning")))
    }
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def attach(): this.type = {
    synchronized { compiledAtStart = Some(compiled) }
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
    this
  }

  def detach(): Unit = {
    synchronized { compiledAtStart = None }
    GraftBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streams)
  }

  /** Drains the bus, then returns and resets the current window. */
  def take(): Layers = {
    GraftBus.drain(spark.sparkContext)
    synchronized {
      val now = compiled
      val l = window.copy(compiles = compiledAtStart.fold(0L)(now - _))
      window = Layers()
      compiledAtStart = compiledAtStart.map(_ => now)
      l
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    add(l => l.copy(jobs = l.jobs + 1))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val scan = if (info.rddInfos.exists(_.name == "FileScanRDD")) info.numTasks else 0
    add(l => l.copy(stages = l.stages + 1, scanTasks = l.scanTasks + scan))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) add(l => l.copy(tasks = l.tasks + 1))
    else add(l => l.copy(tasks = l.tasks + 1,
      executorRunMs = l.executorRunMs + m.executorRunTime,
      executorCpuNs = l.executorCpuNs + m.executorCpuTime,
      gcMs = l.gcMs + m.jvmGCTime,
      shuffleWriteBytes = l.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      shuffleReadBytes = l.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      spillBytes = l.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
      peakExecMemBytes = math.max(l.peakExecMemBytes, m.peakExecutionMemory)))
  }

  private def record(qe: QueryExecution): Unit = {
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    val (ex, lam) =
      try (PlanFacts.exchanges(qe.executedPlan), PlanFacts.lambdas(qe.executedPlan))
      catch { case _: Throwable => (0, 0) }
    add(l => l.copy(planMs = l.planMs + planMs, exchanges = l.exchanges + ex,
      interpretedLambdas = l.interpretedLambdas + lam))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

private object PlanFacts extends AdaptiveSparkPlanHelper {
  /** Every node of an executed plan: subqueries and AQE stages included. */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(plan) { case p => p }

  def exchanges(plan: SparkPlan): Int = nodes(plan).count(_.isInstanceOf[Exchange])

  /** Interpreted lambda functions left in the nodes' expressions. */
  def lambdas(plan: SparkPlan): Int = nodes(plan).flatMap(_.expressions)
    .map(_.collect { case l: LambdaFunction => l }.size).sum
}
