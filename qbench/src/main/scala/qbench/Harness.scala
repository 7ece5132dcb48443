package qbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session factory: the same settings as `graft.Bench`/`graft.Verify`
  * (GraftExtensions, UTC, shuffle partitions = cores, Spark local dir
  * under `Common.scratchRoot`), plus a warehouse dir under that root.
  */
object Session {
  def start(nproc: Int): SparkSession = {
    val root = graft.queries.Common.scratchRoot
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("qbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", root + "/graft_spark_local")
      .config("spark.sql.warehouse.dir", root + "/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Resource hygiene, counted from outside after every operation. */
object Hygiene {

  def tables(spark: SparkSession): Set[String] =
    spark.sessionState.catalog.listTables("default").map(_.unquotedString).toSet

  /** Bytes under the scratch root, except the Spark local dir and the
    * warehouse dir, which belong to the benchmark.
    */
  def scratchBytes(): Long = {
    val root = Paths.get(graft.queries.Common.scratchRoot)
    val skip = Set(root.resolve("graft_spark_local"), root.resolve("warehouse"),
      root.resolve("qbench"))
    def walk(p: Path): Long =
      if (skip.contains(p)) 0L
      else if (Files.isDirectory(p)) {
        val ds = Files.list(p)
        try ds.iterator().asScala.map(walk).sum finally ds.close()
      } else try Files.size(p) catch { case _: java.io.IOException => 0L }
    if (Files.isDirectory(root)) walk(root) else 0L
  }

  def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val w = Files.walk(p)
      try {
        val files = w.iterator().asScala.filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet")).toSeq
        (files.size.toLong, files.map(Files.size).sum)
      } finally w.close()
    }

  /** Memory the run still holds: heap in use after a full collection
    * plus non-heap in use (metaspace, code cache), in MB.
    */
  def retainedMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / (1024.0 * 1024.0)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
}

/** Order-insensitive digest over every output column: row count plus the
  * exact sum of a 64-bit hash of each whole row. Evaluating it computes
  * every column, unlike `count()`, which lets the optimizer prune.
  */
object Digest {
  def of(df: DataFrame): (Long, String) = {
    val (n, h, _) = withSums(df)
    (n, h)
  }

  /** The digest plus exact sums of `extra` decimal columns, in one pass.
    * Columns are hashed in name order, so the digest does not depend on
    * the order a query lists them in.
    */
  def withSums(df: DataFrame, extra: org.apache.spark.sql.Column*)
      : (Long, String, Seq[java.math.BigDecimal]) = {
    val cols = df.columns.toSeq.sorted.map(c => col(s"`$c`"))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), (sum(h.cast("decimal(38,0)")) +: extra.map(sum)): _*).head()
    def dec(i: Int) = if (r.isNullAt(i)) java.math.BigDecimal.ZERO else r.getDecimal(i)
    (r.getLong(0), dec(1).toPlainString, extra.indices.map(i => dec(i + 2)))
  }

  def render(d: (Long, String)): String = s"${d._1}:${d._2}"
}

/** A workload: inputs made at set-up, then passes in a closed loop. */
trait Workload {
  /** One pass: every operation, each checked. */
  def pass(run: Run): Unit
  /** Counters that only the workload can read (after a pass). */
  def passCounters(run: Run): Unit = ()
  def close(): Unit = ()
}

/** State of one run: the session, the tracer, the meter when tracing,
  * and the per-pass tallies the workloads feed.
  */
final class Run(val spark: SparkSession, val nproc: Int, val seed: Long) {
  var tracer = new Tracer(false)
  var meter: Option[EngineMeter] = None

  val opLatencies = mutable.ArrayBuffer.empty[Double]
  /** Latency samples by operation name (for the stderr summary). */
  val opByName = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.LinkedHashMap.empty[String, String]

  /** Per-pass counters (reset at each pass start). */
  val counters = mutable.LinkedHashMap.empty[String, Double]
  /** Per-pass wall time of each layer, summed over its calls. */
  val layerSeconds = mutable.LinkedHashMap.empty[String, Double]
  private val held = mutable.HashSet.empty[org.apache.spark.rdd.RDD[_]]
  private var expectedTables = Set.empty[String]

  def add(key: String, v: Double): Unit = counters(key) = counters.getOrElse(key, 0.0) + v

  def beginPass(): Unit = { counters.clear(); layerSeconds.clear() }

  /** Tables an operation may leave behind on purpose (warehouse loads). */
  def expectTables(names: String*): Unit = expectedTables ++= names

  /** A call into one layer of the program, timed and, when tracing, run
    * under its own job group inside its own span.
    */
  def layer[A](name: String)(f: => A): A = {
    val (a, dt) = tracer.span("layer", name)(id => grouped(id, name)(f))
    layerSeconds(name) = layerSeconds.getOrElse(name, 0.0) + dt
    a
  }

  private var group: String = null

  /** When tracing, run `f` under the job group of span `id`, then give the
    * enclosing span its group back.
    */
  private def grouped[A](id: Long, name: String)(f: => A): A =
    if (!tracer.enabled) f
    else {
      val outer = group
      def set(g: String): Unit = {
        group = g
        if (g == null) spark.sparkContext.clearJobGroup()
        else spark.sparkContext.setJobGroup(g, name, interruptOnCancel = false)
        meter.foreach(_.activeGroup = g)
      }
      set(EngineMeter.groupOf(id))
      try f finally set(outer)
    }

  /** A side measurement inside a traced pass (a layer timed on its own
    * that the pass does not need): recorded as a layer, and its time is
    * taken back out of the pass.
    */
  def probe(name: String)(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    layer(name)(f)
    add("probe_s", (System.nanoTime() - t0) / 1e9)
  }

  /** Materialize a layer's output at its boundary (an eager local
    * checkpoint evaluates every column), so its work is done, and timed,
    * in the layer that produced it. The checkpoint is the benchmark's
    * own: it is not counted as a leak and is released when the pass ends.
    */
  def materialize(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(eager = true)
    c.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => held += r.rdd
      case _ =>
    }
    c
  }

  /** Release the boundary checkpoints of the pass. */
  def endPass(): Unit = {
    held.foreach(_.unpersist(blocking = true))
    held.clear()
  }

  /** One operation of the closed loop: timed, counted, checked. `f`
    * returns None when its correctness check passed, or what was wrong.
    */
  def op(name: String)(f: => Option[String]): Unit = {
    val before = Hygiene.tables(spark)
    val (verdict, dt) = tracer.span("op", name) { id =>
      try grouped(id, name)(f) catch {
        case t: Throwable =>
          Some(s"threw ${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}")
      }
    }
    attempted += 1
    opLatencies += dt
    opByName.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += dt
    verdict.foreach { why =>
      failed += 1
      if (!failures.contains(name)) failures(name) = why
    }
    // hygiene, from outside: count what the program left behind (the
    // benchmark's own boundary checkpoints excepted), then release it
    val leaked = spark.sparkContext.getPersistentRDDs.values.filterNot(held.contains)
    add("hygiene.rdds", leaked.size.toDouble)
    add("hygiene.tables", (Hygiene.tables(spark) -- before -- expectedTables).size.toDouble)
    add("hygiene.scratch_bytes", Hygiene.scratchBytes().toDouble)
    leaked.foreach(_.unpersist(blocking = true))
  }
}
