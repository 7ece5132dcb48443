package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampNTZType, TimestampType}

/** A declared query: Spark implementation + (where SQL-expressible) the
  * byte-equivalent DuckDB oracle SQL the driver hash-checks against
  * (SURVEY §5.4). `oracle = None` → driver records a rows-only check.
  */
final case class Q(
    name: String,
    describe: String,
    oracle: Option[String],
    run: (SparkSession, String) => DataFrame)

/** Shared helpers for the query surface.
  *
  * Determinism discipline: plain double SUM/AVG is order-dependent (IEEE
  * addition is not associative; Spark's 32-way partial aggregation and
  * DuckDB's single-threaded scan add in different orders), so any floating
  * aggregate would hash-mismatch the oracle in the last ULP. We therefore
  * aggregate through exact decimals — `SUM(CAST(x AS DECIMAL(30,s)))` is
  * associative and bit-identical in both engines — and cast the final
  * value back to double. Per-row double arithmetic (a*b, a/b, sqrt) IS
  * deterministic and needs no such treatment.
  */
object Common {

  /** Schema memo per parquet path (r17, VERDICT-r16 item 6): every
    * `spark.read.parquet(path)` call re-infers the schema from the
    * file footer on the DRIVER — measured 0.13–0.4 s of CONSTRUCTION
    * per small query (30–45% of the sub-second tail's wall, re-paid
    * every rep). The memo holds METADATA only (the same information
    * Spark's own footer cache primes); every action still computes
    * its result from the parquet input. Keyed by full path, so two
    * sf dirs never collide; testdata is immutable for a JVM's life.
    */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]

  private def readWithMemo(spark: SparkSession, path: String): DataFrame = {
    val sch = schemaMemo.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    spark.read.schema(sch).parquet(path)
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    readWithMemo(spark, s"$dir/$name.parquet")

  /** The `events` table's `ts` column has shipped in two physical parquet
    * types across testdata generations: TIMESTAMP(NANOS) — which Spark's
    * vectorized reader only accepts via the `nanosAsLong` shim, surfacing
    * as a LongType of epoch-nanos — and plain timestamp[us], which
    * surfaces as TIMESTAMP_NTZ. Sniff the loaded dtype and normalize both
    * to TimestampType at µs precision: the session timezone is pinned to
    * UTC everywhere (Bench/Verify/specs), so the NTZ→LTZ cast is
    * value-preserving and both generations land on the exact µs instants
    * DuckDB sees reading the same file natively.
    *
    * The `nanosAsLong` conf must stay set for the lifetime of the scan
    * (the parquet reader consults it at execution, not just at schema
    * inference), so it cannot be scoped try/finally here; it is a no-op
    * for µs-typed files.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // memo AFTER the conf is set — the nanosAsLong shim participates
    // in schema inference, so the memo'd schema is the shimmed one
    normalizeTs(readWithMemo(spark, s"$dir/events.parquet"))
  }

  /** Normalize an events frame's `ts` to TimestampType (µs, UTC instant)
    * whatever physical type the file carried. Works on streaming frames
    * too (pure projection).
    */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => // nanosAsLong shim output: epoch-nanos → truncate to µs
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case _: TimestampNTZType => // timestamp[us] file: reinterpret as UTC instant
      df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }

  /** Order-insensitive exact double sum (see class doc). */
  def dsum(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(30, scale))).cast("double")

  /** Exact average = decimal sum / row count, computed identically in the
    * oracle via [[sqlDavg]].
    */
  def davg(c: Column, scale: Int = 6): Column = dsum(c, scale) / count(lit(1))

  /** Windowed variant of [[dsum]]. */
  def dsumOver(c: Column, scale: Int, w: WindowSpec): Column =
    sum(c.cast(DecimalType(30, scale))).over(w).cast("double")

  // ---- DuckDB-SQL twins of the helpers above ----
  def sqlDsum(e: String, scale: Int): String =
    s"CAST(SUM(CAST($e AS DECIMAL(30,$scale))) AS DOUBLE)"
  def sqlDavg(e: String, scale: Int = 6): String =
    s"${sqlDsum(e, scale)}/COUNT(*)"

  /** Portable 32-bit string hash: first 8 hex chars of md5 as a BIGINT.
    * Spark and DuckDB md5 agree byte-for-byte, which gives us one
    * deterministic hash family usable on both sides (minhash, simhash,
    * LSH). Spark side: [[graft.ops.Hashing.hash32]].
    */
  def sqlHash32(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 8) AS BIGINT)"

  /** DuckDB whitespace tokenization of the `text` column — the oracle
    * twin of Spark's `split(text, "\\s+")`. ONE definition: the
    * portable-hash and tokenization contracts must not fork per file.
    */
  val sqlWords = """regexp_split_to_array(text, '\s+')"""

  /** Per-thread MD5 instance for per-row hot loops (the
    * ExprHelpers.mdPool / Warc.sha1Pool convention — a
    * getInstance() per row pays JCA provider lookup + allocation).
    */
  private val md5Pool =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** Lowercase-hex MD5 of `b` through the pooled instance. */
  def md5Hex(b: Array[Byte]): String = {
    val md = md5Pool.get()
    md.reset()
    md.digest(b).map("%02x".format(_)).mkString
  }

  /** Root for all scratch state (streaming checkpoints, drained
    * parquet, standing indexes): `SPARK_GRAFT_SCRATCH` when set, else
    * `/dev/shm` when it is a writable tmpfs (the default on this
    * class of box), else `java.io.tmpdir`.
    *
    * Why tmpfs (round-13): the closing board measured the q24x+ tail
    * and every streaming drain 3–10× over their solo costs, and the
    * cause was NEITHER code nor contention — a direct probe read the
    * box's disk at 4.7 MB/s with 17.7 ms small-file fsyncs (a
    * throttled/burst-exhausted volume; BASELINE.md r13). Checkpoint
    * commits fsync per micro-batch, so a throttled disk turns every
    * streaming query into a disk benchmark. Scratch state here is
    * ephemeral by construction (deleted and recreated per call) and a
    * production deployment points checkpoints at HDFS/S3 anyway — the
    * local-disk leg exists only in this harness, so pinning it to RAM
    * measures the engine, not the volume's token bucket.
    */
  lazy val scratchRoot: String =
    sys.env.get("SPARK_GRAFT_SCRATCH").getOrElse {
      val shm = java.nio.file.Paths.get("/dev/shm")
      // Capacity gate (ADVICE-r13): tmpfs is RAM — on a box smaller
      // than the documented 128 GiB, routing shuffle spill into
      // /dev/shm turns spill-to-disk into MORE memory pressure and
      // tmpfs's RAM/2 default cap turns a large spill into ENOSPC.
      // Only prefer tmpfs when it has real headroom (≥16 GiB usable);
      // otherwise keep java.io.tmpdir. SPARK_GRAFT_SCRATCH overrides
      // either way.
      val shmUsable =
        try {
          if (java.nio.file.Files.isDirectory(shm) &&
              java.nio.file.Files.isWritable(shm))
            java.nio.file.Files.getFileStore(shm).getUsableSpace
          else 0L
        } catch { case _: Throwable => 0L }
      if (shmUsable >= 16L * 1024 * 1024 * 1024) "/dev/shm"
      else sys.props("java.io.tmpdir")
    }

  /** Entries of Spark's JVM-wide generated-class cache in the sessions
    * the repo builds (Spark's default is 100). Spark 4 keys that cache
    * on the class loader plus the source, so in local mode each
    * whole-stage class is compiled twice, once where the plan is built
    * and once under the executor's loader, and one multi-stage query
    * fills 100 entries: a run of many queries kept evicting and
    * recompiling. At 1,000 the second run of a batch query compiles
    * nothing (streaming drains still compile each run).
    */
  val CodegenCacheEntries = "1000"

  /** The session the repo's own mains run on: `local[cpus]` with `cpus`
    * shuffle partitions, UTC, the graft extensions (so benched and
    * verified plans are the shipped plans), no UI, WARN logs and a
    * [[CodegenCacheEntries]]-entry codegen cache.
    * Shuffle and spill files ride [[scratchRoot]] like the streaming
    * checkpoints — a throttled local volume must not masquerade as
    * engine cost. `extra` confs are set on top.
    */
  def localSession(cpus: String, extra: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", scratchRoot + "/graft_spark_local")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
    val spark = extra.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** localCheckpoint at MEMORY_AND_DISK_SER — for CORPUS-SIZED pinned
    * frames (the per-token-position (id, hash) families: q150/q154/
    * q159/q162/q194/q271/q280 and the n-gram histograms). Plain
    * localCheckpoint persists DESERIALIZED row objects in the unified
    * pool; at one row per token position those blocks inflate several
    * × over their serialized size and crowd out execution memory —
    * the r14 driver box amplified this family 50–80× under heap
    * pressure (VERDICT-r14 item 4). Serialized blocks keep the pinned
    * mass at wire size and spill gracefully; the serde cost is paid
    * on frames that are each read at most twice.
    */
  def checkpointSer(df: DataFrame): DataFrame =
    df.localCheckpoint(true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

  /** Release every RDD still persisted on `spark`'s context, without
    * waiting for the blocks to go. The declared queries are independent,
    * so a pinned RDD (a `localCheckpoint`, [[checkpointSer]]) left after
    * one has finished is a leak: its blocks live in the unified pool
    * that execution borrows from, and the ContextCleaner reclaims them
    * only after a driver GC proves the RDD unreachable, which a large
    * driver heap may not run for hundreds of queries. Left to pile up,
    * they crowd out execution memory, and the tail of a long sweep
    * measured 10–50× its solo cost (round 13). A failed release is
    * swallowed: it must never fail the sweep it cleans up after.
    */
  def unpersistAll(spark: SparkSession): Unit =
    try spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    catch { case _: Throwable => }

  /** State partition count for the bench/verify streaming DRAINS.
    * Every stateful streaming operator pays a fixed
    * per-partition-per-batch state-store cost (provider init, delta
    * file, snapshot, fsync) regardless of row volume; the drains here
    * carry sf-scale micro-batches, so the 32-partition session
    * default buys no parallelism and multiplies that fixed cost.
    * Measured on q229 at sf0.1 (round 15): cumulative state commit
    * 15.0 → 1.2 s and the drain wall 5.2 → 2.1 s at 32 → 8. A
    * production stream sizes state partitions to state VOLUME — this
    * is the harness-scale expression of that sizing, not an engine
    * constant.
    */
  val DrainShuffle = 8

  /** Run `f` with shuffle partitions temporarily at [[DrainShuffle]];
    * the prior value is restored even on failure, so later queries in
    * the shared bench/verify session are unaffected. [[drain]] wraps
    * every stream's start and await in it (stateful operators read the
    * value at stream START, and each drain's checkpoint is fresh per
    * call, so no checkpoint ever sees two partition counts). q126,
    * q239, q245 and q257 also scope the batch work around their drains
    * with it, and q281 (`Embeddings`) its two batch phases, the graph
    * build and the beam search.
    */
  def withDrainShuffle[A](s: SparkSession)(f: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", DrainShuffle.toString)
    try f finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Drain a stream to completion: `w` carries the caller's sink (output
    * mode and `foreachBatch`, or the parquet `path`); the checkpoint goes
    * to `<dir>/_chk`, the `AvailableNow` trigger processes the backlog,
    * and the start and await run under [[withDrainShuffle]]. Whatever
    * happens, a query still active is stopped (an interrupted await
    * must not leave its stream running into the next query) and
    * `<dir>/_chk` is deleted: nothing reads it again, since
    * [[scratchDir]] wipes the dir on the next call. A failed batch
    * surfaces from `awaitTermination`.
    */
  def drain(s: SparkSession, dir: String)(w: DataStreamWriter[Row]): Unit = {
    val chk = s"$dir/_chk"
    withDrainShuffle(s) {
      var q: StreamingQuery = null
      try {
        q = w.option("checkpointLocation", chk)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } finally {
        try if (q != null && q.isActive) q.stop()
        finally deleteTree(java.nio.file.Paths.get(chk))
      }
    }
  }

  /** Micro-batches of a [[stagedStream]]: more than one proves the
    * incremental state across batches, and each extra batch re-pays
    * the drain's fixed per-batch cost.
    */
  val StagedBatches = 2

  /** Stage `df` as [[StagedBatches]] files range-partitioned on `by` in
    * the scratch dir `tag`, and stream them back one file per trigger:
    * [[StagedBatches]] genuine micro-batches.
    */
  def stagedStream(df: DataFrame, by: Column, tag: String, d: String): DataFrame = {
    val dir = scratchDir(tag, d)
    df.repartitionByRange(StagedBatches, by).write.mode("overwrite").parquet(dir)
    df.sparkSession.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
  }

  /** Replay the sf table `name` as a file stream: the source streams the
    * sf DIRECTORY and `pathGlobFilter` narrows it to the table. The
    * schema is read through [[table]]'s memo, so `events` must have
    * `nanosAsLong` set first (see [[events]]).
    */
  def replayStream(s: SparkSession, d: String, name: String): DataFrame =
    s.readStream.schema(table(s, d, name).schema)
      .option("pathGlobFilter", s"$name.parquet").parquet(d)

  /** Delete `p` and everything under it, if it exists. */
  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      // Files.walk must be closed or it leaks a directory fd per level.
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }

  /** Delete the `graft_*_p<pid>` dirs under [[scratchRoot]] whose JVM
    * has exited; a live JVM's dirs are never touched.
    */
  private[graft] def sweepDeadScratch(): Unit = {
    val owned = """graft_.+_p(\d{1,18})""".r
    val root = java.nio.file.Paths.get(scratchRoot)
    if (java.nio.file.Files.isDirectory(root)) {
      val ls = java.nio.file.Files.list(root)
      try ls.forEach(p => p.getFileName.toString match {
        case owned(pid) if ProcessHandle.of(pid.toLong).isEmpty => deleteTree(p)
        case _ => ()
      }) finally ls.close()
    }
  }
  private lazy val deadScratchSwept: Unit = sweepDeadScratch()

  /** Deterministic-per-process scratch directory for streaming-drain
    * queries, deleted and recreated on every call: repeated calls within
    * one bench/verify JVM reuse ONE directory per (tag, input dir)
    * instead of leaking a fresh createTempDirectory (checkpoint +
    * drained parquet) each invocation. The path carries the JVM pid so
    * two concurrent runs over the same input (bench alongside verify)
    * cannot wipe each other's live streaming checkpoints; the first call
    * in a JVM sweeps the dirs of JVMs that have exited.
    */
  def scratchDir(tag: String, dir: String): String = {
    deadScratchSwept
    val base = java.nio.file.Paths.get(
      scratchRoot,
      s"graft_${tag}_${Integer.toHexString(dir.hashCode)}_p${ProcessHandle.current().pid()}")
    deleteTree(base)
    java.nio.file.Files.createDirectories(base)
    base.toString
  }
}
