package graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan

/** Every declared query, built once per test JVM at sf0.001 on the
  * shared session, for the gates that read plans rather than rows.
  * Building a query is not free: its eager `localCheckpoint`s and
  * streaming drains run at build time, so each gate that rebuilt all of
  * them paid for those again.
  *
  * An entry keeps plans, never a frame to execute, so a later wipe of a
  * drain's scratch dir cannot break it: the analyzed plan (whose schema
  * is the frame's), the executed plan before it runs (AQE's initial
  * plan), and the interpreted lambdas a [[Meter]] window recorded in the
  * executions the build itself ran. The pins the builds took are
  * released once every query is built.
  */
object DeclaredPlans {

  final case class Built(name: String, analyzed: LogicalPlan,
      executed: SparkPlan, buildLambdas: Long)

  /** One entry per registry query, sorted by name. */
  lazy val all: Seq[Built] = {
    val spark = SparkTestSession.spark
    val meter = new Meter(spark).attach()
    try SparkEntry.registry.sortBy(_.name).map { q =>
      meter.take()
      val qe = q.run(spark, SparkTestSession.sfDir).queryExecution
      Built(q.name, qe.analyzed, qe.executedPlan, meter.take().interpretedLambdas)
    } finally {
      meter.detach()
      queries.Common.unpersistAll(spark)
    }
  }
}
