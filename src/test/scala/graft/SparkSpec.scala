package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM under Test/fork). */
/** Loudness guard for the shared `local[4, 2]` session (ADVICE-r9):
  * maxFailures=2 makes task retry testable, but it also lets a
  * transient task failure in ANY suite retry and pass silently. This
  * listener records every task failure; [[SparkSpec]]'s afterAll
  * asserts that none occurred beyond the deliberately-injected ones
  * (matched by message against [[expectedMarkers]]), so an unexpected
  * retry fails the suite it happened in (or the next one, if the
  * listener bus delivers late) instead of vanishing.
  */
object TaskFailureMonitor
    extends org.apache.spark.scheduler.SparkListener {
  private val failures =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  // substrings of failure messages that specs deliberately provoke
  // (matched against the FULL toErrorString incl. stack, so class-
  // qualified markers stay narrow)
  val expectedMarkers: Seq[String] = Seq(
    "injected transient fetch failure", // QboDataSourceSpec retry contract
    "not registered in this JVM", // QboDataSourceSpec fail-fast case
    "graft_gram_matrix: expected", // GramMatrixSpec arity intercepts
    "graft.functions.GramMatrixAgg", // GramMatrixSpec overflow intercept
    "failed the declared-schema parse", // QboSourceSpec strict-parse cases
    "MALFORMED_RECORD_IN_PARSING") // QboSpec malformed-report cases
  override def onTaskEnd(
      e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
    e.reason match {
      case org.apache.spark.Success => ()
      // scheduler-initiated kills (sibling tasks of a deliberately
      // aborted stage, speculation) are not retried-and-hidden
      // failures — counting them would make the gate hostage to
      // abort timing
      case _: org.apache.spark.TaskKilled => ()
      case r: org.apache.spark.TaskFailedReason =>
        val desc = r.toErrorString
        if (!expectedMarkers.exists(desc.contains)) failures.add(
          s"stage ${e.stageId} task ${e.taskInfo.taskId}: " +
            desc.linesIterator.take(4).mkString(" | "))
      case _ => ()
    }
  /** Drain and return the unexpected failures recorded so far. */
  def drainUnexpected(): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var f = failures.poll()
    while (f != null) { out += f; f = failures.poll() }
    out.toSeq
  }
}

object SparkTestSession {
  /** The testdata instance every suite reads. */
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      // local[4, 2]: 4 threads, TWO task attempts — plain local[N]
      // pins maxFailures to 1, which makes task-retry semantics
      // untestable (the QboDataSourceSpec at-least-once-fetch /
      // exactly-once-rows contract needs a real retry). Accepted
      // trade (reviewed round 9): a once-per-run transient task
      // failure in another suite now retries and passes instead of
      // failing loudly — but maxFailures > 1 is also every real
      // cluster's configuration, so suites exercise the production
      // retry regime; a bug that only fails once per run was flaky
      // under local[4] too, just differently.
      .master("local[4, 2]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
        graft.queries.Common.CodegenCacheEntries)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.addSparkListener(TaskFailureMonitor)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir: String = SparkTestSession.sfDir

  /** Retry-loudness gate (ADVICE-r9): any non-allowlisted task failure
    * observed on the shared session fails the suite where it surfaced —
    * a transient failure that passed on retry is reported, not
    * swallowed. Suites overriding afterAll must call super.
    */
  override protected def afterAll(): Unit = {
    val bad = TaskFailureMonitor.drainUnexpected()
    assert(bad.isEmpty,
      s"unexpected task failures (passed on retry, would be flaky at " +
        s"maxFailures=1):\n${bad.mkString("\n")}")
    super.afterAll()
  }
}
