package graft.load

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Warehouse load patterns (SURVEY §2.5 W3-W5).
  *
  * The reference's temp-table dance (`CREATE temp` → `COPY` → `TRUNCATE`
  * → `INSERT SELECT` → `DROP`) is a Redshift-COPY artifact; in Spark the
  * staged parquet is directly readable, so a full refresh is one
  * `saveAsTable(Overwrite)` and no temp table is left behind
  * (qb_purchases.py never drops its temp, §0.1). That overwrite is NOT
  * atomic: Spark drops the existing table before the write job runs, so
  * readers see no table while it runs, and a write that fails leaves no
  * table at all — the same window of emptiness as the reference's
  * TRUNCATE → INSERT (SURVEY §4). ROADMAP item 1 carries the fix and
  * its failing spec.
  */
object Warehouse {

  /** W4: full-refresh load (TRUNCATE + reload ≡ overwrite). Not atomic:
    * the old table is dropped before the new contents are written, and
    * a failed write loses it (see the object doc; ROADMAP item 1).
    */
  def fullRefresh(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").format("parquet").saveAsTable(table)

  /** W5: monthly append, made idempotent with dynamic partition
    * overwrite on `month` — re-running a month replaces that month
    * instead of double-loading it (fixes the reference's re-run hole,
    * qb_profit&loss.py:136-151).
    */
  def appendMonth(df: DataFrame, table: String): Unit =
    overwritePartitions(df, table, "month")

  /** Exactly-once streaming sink primitive: idempotent per-micro-batch
    * append. foreachBatch gives at-least-once delivery — a crashed
    * driver replays the last batch — so the sink keys each batch's
    * rows to a `batch_id` partition and overwrites ONLY that partition
    * (dynamic partition overwrite, the same mechanism
    * [[appendMonth]] uses for month re-runs). A replayed batch
    * rewrites its own partition byte-for-byte instead of
    * double-appending: at-least-once delivery + idempotent write =
    * exactly-once table contents.
    */
  def appendBatch(df: DataFrame, table: String, batchId: Long): Unit =
    overwritePartitions(df.withColumn("batch_id", lit(batchId)), table, "batch_id")

  /** Write `df` into `table` partitioned by `partCol`, replacing only
    * the partitions `df` holds: the first write creates the table, later
    * ones overwrite dynamically.
    */
  private def overwritePartitions(df: DataFrame, table: String, partCol: String): Unit = {
    val spark = df.sparkSession
    // scope the dynamic-overwrite mode to this write: leaving it set
    // would silently flip any later overwrite-insertInto on the shared
    // session from static (truncate all partitions) to dynamic
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try {
      if (!spark.catalog.tableExists(table)) {
        df.write.partitionBy(partCol).format("parquet").saveAsTable(table)
      } else {
        // insertInto matches by position; align to the table's column
        // order with the partition column last.
        val cols = spark.table(table).columns
        df.select(cols.map(col).toSeq: _*).write.mode("overwrite").insertInto(table)
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Bucketed write: co-locates rows by join key so subsequent
    * equi-joins between tables bucketed on the same key with the same
    * bucket count run shuffle-free (the scale answer to repeated
    * fact-fact joins — pay the shuffle once at load, never at query).
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)

  /** Slowly-changing-dimension type-2 merge — the warehouse-native
    * upgrade of the reference's full-refresh loads (W4): instead of
    * truncating history on every sync, changed rows are CLOSED
    * (`valid_to` = batch date) and re-inserted as the new current
    * version, so every past state stays queryable.
    *
    * `dim` must carry `valid_from`/`valid_to` (string dates, null
    * `valid_to` = current); `batch` carries `key` + `tracked` — a CDC
    * changeset, so keys absent from the batch simply stay current.
    * Null-safe (`<=>`) comparison on `tracked` makes same-value
    * re-sends no-ops (idempotent re-runs, the property W5 guarantees
    * for months). Keys are assumed non-null (dimension grain).
    *
    * Scale shape: ONE full-outer equi-join of the current slice
    * against the batch on the dimension key (full-outer cannot
    * broadcast, so this is a key-partitioned shuffle join by
    * construction — with the dimension stored bucketed on `key`
    * ([[writeBucketed]]) the dim-side exchange disappears and only the
    * small CDC batch shuffles), then a single narrow explode emits 1
    * or 2 output rows per joined key: no second scan, no window, no
    * driver round-trip. History rows pass through without touching
    * the join.
    */
  def mergeScd2(dim: DataFrame, batch: DataFrame, key: String,
      tracked: Seq[String], batchDate: String): DataFrame = {
    val history = dim.filter(col("valid_to").isNotNull)
    val current = dim.filter(col("valid_to").isNull)
    val joined = current.alias("d")
      .join(batch.alias("b"), col("d." + key) === col("b." + key),
        "full_outer")
    val dPresent = col("d." + key).isNotNull
    val bPresent = col("b." + key).isNotNull
    val unchanged = tracked.map(t => col("d." + t) <=> col("b." + t))
      .reduce(_ && _)
    def version(side: String, from: Column, to: Column): Column =
      struct((col(s"$side.$key").as(key) +:
        tracked.map(t => col(s"$side.$t").as(t))) :+
        from.as("valid_from") :+ to.as("valid_to"): _*)
    val keptD = version("d", col("d.valid_from"), lit(null).cast("string"))
    val closedD = version("d", col("d.valid_from"), lit(batchDate))
    val freshB = version("b", lit(batchDate), lit(null).cast("string"))
    val merged = joined.select(
      when(dPresent && bPresent && unchanged, array(keptD))
        .when(dPresent && bPresent, array(closedD, freshB))
        .when(dPresent, array(keptD))
        .otherwise(array(freshB)).as("versions"))
      .select(explode(col("versions")).as("v"))
      .select(col("v.*"))
    history.select(merged.columns.map(col).toSeq: _*).union(merged)
  }

  /** C5-style load audit: staged vs loaded row counts. */
  def auditCounts(staged: DataFrame, table: String): (Long, Long) =
    (staged.count(), staged.sparkSession.table(table).count())

  /** W3 over a live warehouse: the reference's psycopg2 executor
    * (qb_bills.py:10-27) re-expressed as Spark's JDBC sink. Each
    * partition opens one connection and writes in `batchsize`d inserts,
    * so write parallelism = partitions; cap it with
    * `df.coalesce(n)`/numPartitions at the warehouse's connection
    * budget rather than letting a 1000-executor job open 1000
    * connections.
    */
  def toJdbc(df: DataFrame, url: String, table: String,
      options: Map[String, String] = Map.empty,
      overwrite: Boolean = true): Unit = {
    val writer = df.write
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", options.getOrElse("batchsize", "10000"))
      .options(options)
      .mode(if (overwrite) "overwrite" else "append")
    writer.save()
  }

  /** JDBC read-back twin (used by the audit path and specs). */
  def fromJdbc(spark: org.apache.spark.sql.SparkSession, url: String,
      table: String, options: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).options(options).load()

  /** W2: CSV debug sink (qb_profit&loss.py:125 `to_csv`). One header'd
    * file for eyeballs — `coalesce(1)` is deliberate and only sane for
    * debug-sized frames; production sinks stay parquet.
    */
  /** Explicit, distinct null vs empty-string markers: Spark's CSV
    * defaults write null as "" and read "" back as null, so a genuine
    * empty string would silently round-trip to null. Writing nulls as
    * the sentinel `\N` (the classic mysqldump/Hive convention) and
    * empty strings as `""` keeps the two distinguishable; the reader
    * in [[fromDebugCsv]] uses the same pair.
    */
  val CsvNullMarker = "\\N"

  def debugCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite")
      .option("header", "true")
      .option("nullValue", CsvNullMarker)
      .option("emptyValue", "\"\"")
      .csv(path)

  /** Read a [[debugCsv]] artifact back with the writer's null/empty
    * conventions (schema supplied by the caller — CSV carries none).
    */
  def fromDebugCsv(s: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    // Reader deliberately sets ONLY nullValue (ADVICE-r7): univocity's
    // read-side emptyValue is a SUBSTITUTION string — setting it to
    // `""` would rewrite every empty quoted field to the literal
    // 2-char string `""`. Spark's read default already maps a quoted
    // empty field to the empty string, and nullValue=\N alone keeps
    // null distinct from it (round-trip spec covers both).
    s.read.option("header", "true")
      .option("nullValue", CsvNullMarker)
      .schema(schema).csv(path)

  /** The cloud-safe committer configuration for an output URI — the
    * deployment wiring SURVEY §2.5 documents for the reference's
    * `s3://` destinations. S3 renames are copies, so the default
    * FileOutputCommitter is either slow (v1) or unsafe under task
    * retry (v2); the magic committer writes task output to its final
    * destination under `__magic` paths and completes multipart uploads
    * at job commit — no rename at all. The class names are Spark's own
    * cloud-committer bindings (`spark-hadoop-cloud` module); they and
    * `hadoop-aws` must be on the deployment classpath (this sandbox has
    * neither, and no egress — which is exactly why the mapping lives in
    * ONE audited function instead of scattered notes).
    */
  def committerConfFor(uri: String): Map[String, String] =
    if (uri.startsWith("s3a://")) Map(
      "spark.hadoop.fs.s3a.committer.name" -> "magic",
      "spark.hadoop.fs.s3a.committer.magic.enabled" -> "true",
      "spark.sql.parquet.output.committer.class" ->
        "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter",
      "spark.sql.sources.commitProtocolClass" ->
        "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol")
    else Map.empty

  /** One write entry point for every Hadoop-FS scheme (`file://`,
    * `hdfs://`, `s3a://`): applies [[committerConfFor]] scoped to the
    * write (restored after, like [[appendMonth]]'s overwrite-mode
    * scoping), then writes. Returns the applied settings so callers
    * and the spec can audit the wiring.
    */
  def writePath(df: DataFrame, uri: String,
      format: String = "parquet"): Map[String, String] = {
    val cloudConf = committerConfFor(uri)
    val spark = df.sparkSession
    val prev = cloudConf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    // the SET loop sits INSIDE the restore scope: Spark validates
    // committer classes at set-time, so on a deployment missing the
    // spark-hadoop-cloud bindings the set itself fails fast — and the
    // keys applied before it must still roll back (spec-checked)
    try {
      cloudConf.foreach { case (k, v) => spark.conf.set(k, v) }
      df.write.mode("overwrite").format(format).save(uri)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    cloudConf
  }

  /** Interleave the low 16 bits of `c` with zeros (Morton spread) using
    * the classic magic-mask shifts — pure codegen'd Column bit ops.
    */
  private[load] def spreadBits16(c: org.apache.spark.sql.Column):
      org.apache.spark.sql.Column = {
    val x0 = c.bitwiseAND(lit(0xFFFFL))
    val x1 = shiftleft(x0, 8).bitwiseOR(x0).bitwiseAND(lit(0x00FF00FFL))
    val x2 = shiftleft(x1, 4).bitwiseOR(x1).bitwiseAND(lit(0x0F0F0F0FL))
    val x3 = shiftleft(x2, 2).bitwiseOR(x2).bitwiseAND(lit(0x33333333L))
    shiftleft(x3, 1).bitwiseOR(x3).bitwiseAND(lit(0x55555555L))
  }

  /** W6: z-order layout rewrite (the OPTIMIZE ZORDER analog). Each of
    * the two clustering columns is min-max scaled to 16 bits against a
    * 1-row broadcast stats frame (no driver collect), the bits are
    * interleaved into a 32-bit Morton key, and the data is
    * range-partitioned + sorted by that key into `files` parquet files.
    *
    * Why it matters at 100 TB: parquet row-group/file min-max stats
    * prune scans on BOTH columns. A linear sort gives tight ranges on
    * the leading column only — the second column spans its full domain
    * in every file, so predicates on it prune nothing. The Morton curve
    * keeps per-file ranges narrow on both (see WarehouseSpec for the
    * measured spread), which is the difference between reading one file
    * and reading all of them for a point-range query on either column.
    * The layout pass costs one range-partition shuffle — paid once,
    * amortized over every subsequent scan.
    */
  def writeZOrdered(df: DataFrame, path: String, c1: String, c2: String,
      files: Int): Unit = {
    // Fail fast on a non-numeric clustering column: its cast-to-double
    // would be all nulls, min/max would be null, and every row would
    // fall to the constant-key branch — a layout that LOOKS written but
    // prunes nothing. Silent degradation is the worst failure mode for
    // a pass whose whole point is pruning.
    def requireNumeric(name: String): Unit = {
      val field = df.schema.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"writeZOrdered: no column `$name`"))
      field.dataType match {
        case _: org.apache.spark.sql.types.NumericType => ()
        case t => throw new IllegalArgumentException(
          s"writeZOrdered: clustering column `$name` has type ${t.sql}; " +
            "min-max scaling needs a numeric column (cast dates/strings " +
            "to a numeric surrogate first)")
      }
    }
    requireNumeric(c1)
    requireNumeric(c2)
    // Internal stat/key columns must not collide with user columns
    def fresh(base: String): String =
      Iterator.from(0).map(i => if (i == 0) base else s"$base$i")
        .find(n => !df.columns.contains(n)).get
    val (mn1, mx1, mn2, mx2, zk) = (fresh("__graft_mn1"), fresh("__graft_mx1"),
      fresh("__graft_mn2"), fresh("__graft_mx2"), fresh("__graft_z"))
    val stats = broadcast(df.agg(
      min(col(c1)).cast("double").as(mn1), max(col(c1)).cast("double").as(mx1),
      min(col(c2)).cast("double").as(mn2), max(col(c2)).cast("double").as(mx2)))
    def scaled(c: String, mn: org.apache.spark.sql.Column,
        mx: org.apache.spark.sql.Column) =
      when(mx > mn, ((col(c).cast("double") - mn) / (mx - mn) * 65535.0))
        .otherwise(lit(0.0)).cast("long")
    df.crossJoin(stats)
      .withColumn(zk, spreadBits16(scaled(c1, col(mn1), col(mx1)))
        .bitwiseOR(shiftleft(spreadBits16(scaled(c2, col(mn2), col(mx2))), 1)))
      .drop(mn1, mx1, mn2, mx2)
      .repartitionByRange(files, col(zk))
      .sortWithinPartitions(zk)
      .drop(zk)
      .write.mode("overwrite").parquet(path)
  }
}
