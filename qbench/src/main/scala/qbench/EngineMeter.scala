package qbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counts for one job group: what the scheduler and the planner
  * reported for the jobs and query executions run under it.
  */
final class EngineCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakExecMem = 0L
  var planMs = 0L
  var exchanges = 0L
  var lambdas = 0L
  var taskSkew = 1.0

  def add(o: EngineCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    executorRunMs += o.executorRunMs; executorCpuNs += o.executorCpuNs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; peakExecMem = math.max(peakExecMem, o.peakExecMem)
    planMs += o.planMs; exchanges += o.exchanges; lambdas += o.lambdas
    taskSkew = math.max(taskSkew, o.taskSkew)
  }

  def attrs: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "executor_run_s" -> executorRunMs / 1e3, "executor_cpu_s" -> executorCpuNs / 1e9,
    "gc_s" -> gcMs / 1e3, "shuffle_write_bytes" -> shuffleWrite.toDouble,
    "shuffle_read_bytes" -> shuffleRead.toDouble, "spill_bytes" -> spill.toDouble,
    "peak_exec_mem_bytes" -> peakExecMem.toDouble, "plan_s" -> planMs / 1e3,
    "exchanges" -> exchanges.toDouble, "interpreted_lambdas" -> lambdas.toDouble,
    "task_skew" -> taskSkew)
}

/** The benchmark's own SparkListener + QueryExecutionListener. Every
  * layer call runs under job group `qbench-<span id>`; jobs carry that
  * group in their properties, stages and tasks are credited through
  * their job, and query executions through the SQL execution id their
  * jobs carry (or, for an execution that ran no job, the group that was
  * active when it finished).
  */
final class EngineMeter(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  import EngineMeter._

  private final class StageAgg {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shW = 0L
    var shR = 0L
    var spill = 0L
    var peak = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
    var submitMs = 0L
    var doneMs = 0L
  }
  private final case class JobRec(id: Int, group: String, execId: Long,
      startMs: Long, stageIds: Seq[Int]) {
    var endMs: Long = -1L
  }
  private final case class QeRec(execId: Long, fallbackGroup: String,
      planMs: Long, exchanges: Int, lambdas: Int)

  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val qes = mutable.ArrayBuffer.empty[QeRec]

  /** Group of the call in flight (fallback credit for job-less executions). */
  @volatile var activeGroup: String = null

  def msToNano(ms: Long): Long = ms * 1000000L - epochOffsetNs

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    org.apache.spark.QbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = JobRec(e.jobId, group, exec, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  private def stage(id: Int): StageAgg = stages.getOrElseUpdate(id, new StageAgg)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stage(e.stageInfo.stageId).submitMs = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    e.stageInfo.submissionTime.foreach(t => if (s.submitMs == 0L) s.submitMs = t)
    e.stageInfo.completionTime.foreach(t => s.doneMs = t)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    s.durations += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shW += m.shuffleWriteMetrics.bytesWritten
      s.shR += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peak = math.max(s.peak, m.peakExecutionMemory)
    }
  }

  private def record(qe: QueryExecution): Unit = {
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    val (ex, lam) =
      try {
        val plan = qe.executedPlan
        (PlanWalk.collectWithSubqueries(plan) { case e: Exchange => e }.size,
          PlanWalk.collectWithSubqueries(plan) { case p =>
            p.expressions.map(_.collect { case l: LambdaFunction => l }.size).sum
          }.sum)
      } catch { case _: Throwable => (0, 0) }
    synchronized { qes += QeRec(qe.id, activeGroup, planMs, ex, lam) }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  /** Drain the bus, then hand over and forget everything recorded so far:
    * counts per job group, and job and stage spans parented to the span
    * named by each job's group.
    */
  def take(): (Map[String, EngineCounts], Tracer => Unit) = {
    org.apache.spark.QbenchBus.drain(spark.sparkContext)
    synchronized {
      val byGroup = mutable.HashMap.empty[String, EngineCounts]
      def counts(g: String) = byGroup.getOrElseUpdate(Option(g).getOrElse(""), new EngineCounts)
      val execGroup = mutable.HashMap.empty[Long, String]
      val stageSpans = mutable.ArrayBuffer.empty[(Int, Int)] // (stage, job)
      val seenStages = mutable.HashSet.empty[Int]
      jobs.values.foreach { j =>
        if (j.execId >= 0 && j.group != null) execGroup.getOrElseUpdate(j.execId, j.group)
        val c = counts(j.group)
        c.jobs += 1
        j.stageIds.filter(stages.contains).filter(seenStages.add).foreach { sid =>
          val s = stages(sid)
          stageSpans += ((sid, j.id))
          c.stages += 1
          c.tasks += s.tasks
          c.executorRunMs += s.runMs
          c.executorCpuNs += s.cpuNs
          c.gcMs += s.gcMs
          c.shuffleWrite += s.shW
          c.shuffleRead += s.shR
          c.spill += s.spill
          c.peakExecMem = math.max(c.peakExecMem, s.peak)
          c.taskSkew = math.max(c.taskSkew, skew(s.durations.toSeq))
        }
      }
      qes.foreach { q =>
        val c = counts(execGroup.getOrElse(q.execId, q.fallbackGroup))
        c.planMs += q.planMs
        c.exchanges += q.exchanges
        c.lambdas += q.lambdas
      }
      val jobList = jobs.values.toSeq
      val stageAggs = stages.toMap
      val stageJob = stageSpans.toSeq
      jobs.clear(); stages.clear(); qes.clear()
      // job and stage spans need ids from the tracer: emitted lazily
      val emit: Tracer => Unit = tracer => {
        val jobSpan = mutable.HashMap.empty[Int, Long]
        jobList.foreach { j =>
          val id = tracer.nextId()
          jobSpan(j.id) = id
          val end = if (j.endMs >= 0) j.endMs else j.startMs
          tracer.add(Span(id, groupSpan(j.group), "job", s"job ${j.id}",
            msToNano(j.startMs), msToNano(end)))
        }
        stageJob.foreach { case (sid, jid) =>
          val s = stageAggs(sid)
          if (s.submitMs > 0 && s.doneMs >= s.submitMs)
            tracer.add(Span(tracer.nextId(), jobSpan(jid), "stage", s"stage $sid",
              msToNano(s.submitMs), msToNano(s.doneMs),
              Map("tasks" -> s.tasks.toDouble, "executor_run_s" -> s.runMs / 1e3,
                "task_skew" -> skew(s.durations.toSeq))))
        }
      }
      (byGroup.toMap, emit)
    }
  }
}

object EngineMeter {
  val GroupPrefix = "qbench-"

  def groupOf(spanId: Long): String = GroupPrefix + spanId

  def groupSpan(group: String): Long =
    if (group != null && group.startsWith(GroupPrefix)) group.drop(GroupPrefix.length).toLong
    else 0L

  /** Max over median task duration of one stage; stages whose longest
    * task is under 50 ms are too short for the ratio to mean anything
    * and read 1.
    */
  def skew(durations: Seq[Long]): Double =
    if (durations.length < 2 || durations.max < 50L) 1.0
    else durations.max.toDouble / math.max(1.0, Stats.median(durations.map(_.toDouble)))
}

private object PlanWalk extends AdaptiveSparkPlanHelper
