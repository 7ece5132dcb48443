// Dev tool: how each named query's cost grows with its input. Writes a
// decorrelated k× copy of the bench sf dir per k, runs the query's real
// `Q.run` over it through `Bench.timedReps`, and fits the growth
// exponents of wall time and shuffle write bytes against k.
// Usage:
//   sbt "runMain graft.tools.ScaleSweep [--k=1,4,16]
//        [--out=SCALE_SWEEP.jsonl] <query names>"
// Reads SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS like Bench. Bounded:
// each run has the stall cap of `Bench.timedReps`, and no run starts
// after BudgetSec. Prints markdown tables on stdout and writes one JSON
// line per copy, per (query, k) reading and per query fit to --out.
package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, Meter}
import graft.queries.Common
import graft.text.TextFunctions

object ScaleSweep {

  /** Id columns offset per replica, one group per key domain: every
    * column of a domain moves by the same stride, so a join on it stays
    * inside one replica.
    */
  private val keyDomains: Seq[Seq[(String, String)]] = Seq(
    Seq("customer" -> "c_custkey", "orders" -> "o_custkey"),
    Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey"),
    Seq("part" -> "p_partkey", "lineitem" -> "l_partkey"),
    Seq("supplier" -> "s_suppkey", "lineitem" -> "l_suppkey"),
    Seq("events" -> "event_id"), Seq("events" -> "user_id"),
    Seq("documents" -> "doc_id"), Seq("embeddings" -> "vec_id"))

  /** Bounded dimensions: written once whatever k is. */
  val bounded = Set("nation", "region")

  /** Tokens every replica keeps as they are: the stopword lists the
    * language-ID and quality signals count.
    */
  private val stopwords = TextFunctions.LangStopwords.flatMap(_._2).distinct

  /** Replica `rep` of a text: each whitespace-separated token that is
    * not a stopword has its letters shifted `rep` places round the
    * alphabet (case kept; whitespace and other characters as they are).
    * Per replica that is a bijection on tokens that keeps every length
    * and every stopword, so a document keeps its length, its token
    * counts, its stopword hits and its language id, and duplicates
    * planted in the source stay duplicates inside each replica, while
    * its words differ from every other replica's (for k ≤ 26).
    */
  private def shiftedText(text: Column, rep: Column, k: Int): Column = {
    val (lo, up) = (('a' to 'z').mkString, ('A' to 'Z').mkString)
    def rot(s: String, r: Int) = s.drop(r) + s.take(r)
    array_join(transform(split(text, "(?<=\\s)|(?=\\s)"), w =>
      (1 until k).foldLeft(w) { (other, r) =>
        when(rep === r && !lower(w).isin(stopwords: _*),
          translate(w, lo + up, rot(lo, r) + rot(up, r))).otherwise(other)
      }), "")
  }

  /** Writes the k× copy of sf dir `src` into `dst`, one parquet file per
    * table like the source dir. Replica r of a row offsets each id by
    * r × (its domain's id range), shifts the words of each `documents`
    * text by r (see [[shiftedText]]) and rotates each `embeddings`
    * vector by r coordinates (an isometry: every replica keeps the
    * source's neighbourhoods; replicas stay distinct while k ≤ the
    * vector dimension). Replica 0 is the source. [[bounded]] tables are
    * copied 1×. `src` is only read.
    */
  def replicate(spark: SparkSession, src: String, dst: String, k: Int): Unit = {
    require(k >= 1 && k <= 26, s"k must be in 1..26, got $k")
    val tables = Option(new java.io.File(src).list()).getOrElse(Array.empty[String])
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    def read(t: String) = Common.table(spark, src, t)
    val stride: Map[(String, String), Long] = keyDomains
      .filter(_.forall { case (t, _) => tables.contains(t) })
      .flatMap { dom =>
        val ranges = dom.map { case (t, c) =>
          read(t).agg(min(col(c)).cast("long"), max(col(c)).cast("long")).head() }
        val lo = ranges.map(_.getLong(0)).min
        val hi = ranges.map(_.getLong(1)).max
        dom.map(_ -> (hi - lo + 1))
      }.toMap
    val rep = col("_rep")
    for (t <- tables) {
      val df = read(t)
      val out =
        if (bounded(t)) df
        else {
          val x = df.crossJoin(spark.range(k).withColumnRenamed("id", "_rep"))
          val vec = col("embedding")
          val sh = rep % size(vec)
          val rotated = when(sh === 0, vec).otherwise(concat(
            slice(vec, -sh, sh), slice(vec, lit(1), size(vec) - sh)))
          x.select(df.schema.fields.toSeq.map { f =>
            val c = (t, f.name) match {
              case key if stride.contains(key) => col(f.name) + rep * stride(key)
              case ("documents", "text") => shiftedText(col("text"), rep, k)
              case ("embeddings", "embedding") => rotated
              case _ => col(f.name)
            }
            c.cast(f.dataType).as(f.name)
          }: _*)
        }
      out.coalesce(1).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
  }

  /** (rows, row groups) per table of an sf dir, read from the parquet
    * footers.
    */
  def layout(spark: SparkSession, dir: String): Map[String, (Long, Int)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet")).map { t =>
        val files = if (t.isDirectory) t.listFiles().filter(f =>
          f.getName.endsWith(".parquet")).toSeq else Seq(t)
        val perFile = files.map { f =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.getPath), conf))
          try (r.getRecordCount, r.getRowGroups.size) finally r.close()
        }
        t.getName.stripSuffix(".parquet") -> (perFile.map(_._1).sum, perFile.map(_._2).sum)
      }.toMap
  }

  /** Least-squares slope of log(y) on log(k): the growth exponent. */
  def exponent(points: Seq[(Double, Double)]): Option[Double] = {
    val pts = points.filter { case (k, y) => k > 0 && y > 0 }
      .map { case (k, y) => (math.log(k), math.log(y)) }
    if (pts.map(_._1).distinct.size < 2) None
    else {
      val mx = pts.map(_._1).sum / pts.size
      val my = pts.map(_._2).sum / pts.size
      Some(pts.map { case (x, y) => (x - mx) * (y - my) }.sum /
        pts.map { case (x, _) => (x - mx) * (x - mx) }.sum)
    }
  }

  /** A shuffle exponent above this is flagged super-linear. */
  val SuperLinear = 1.1

  /** The sweep stops starting runs once this many seconds have passed. */
  val BudgetSec = 3000.0

  /** One (query, k) cell: its timed run, or why it has none. */
  private final case class Cell(query: String, k: Int, reading: Either[String, Bench.Reading]) {
    def status: String = reading.fold(identity, _ => "ok")
    def wall: Option[Double] = reading.toOption.map(_.secs)
    def shuffle: Option[Long] = reading.toOption.map(_.layers.shuffleWriteBytes)
  }

  private def num(d: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
  private def str(s: String): String = "\"" + s.replace("\"", "'") + "\""

  def main(args: Array[String]): Unit = {
    val (opts, names) = args.partition(_.startsWith("--"))
    val opt = opts.map(_.stripPrefix("--").split("=", 2)).collect {
      case Array(key, v) => key -> v }.toMap
    require(opt.keySet.subsetOf(Set("k", "out")) && names.nonEmpty,
      "usage: ScaleSweep [--k=1,4,16] [--out=FILE] <queries>")
    val ks = opt.getOrElse("k", "1,4,16").split(",").map(_.trim.toInt).sorted.toSeq
    val outPath = opt.getOrElse("out", "SCALE_SWEEP.jsonl")
    names.foreach(n => require(graft.SparkEntry.queries.contains(n), s"unknown query $n"))

    val src = Bench.sfDir
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val spark = Common.localSession(Bench.cpus)
    val meter = new Meter(spark).attach()
    val out = new java.io.PrintWriter(java.nio.file.Files.newBufferedWriter(
      java.nio.file.Paths.get(outPath)))
    val cells = scala.collection.mutable.ArrayBuffer.empty[Cell]
    val layouts = scala.collection.mutable.ArrayBuffer.empty[(Int, Map[String, (Long, Int)])]

    for (k <- ks) {
      val dst = s"${Common.scratchRoot}/graft_scale_${Integer.toHexString(src.hashCode)}" +
        s"_k${k}_p${ProcessHandle.current().pid()}"
      try {
        val tw = System.nanoTime()
        replicate(spark, src, dst, k)
        val copied = layout(spark, dst)
        layouts += k -> copied
        meter.take()
        def per(f: ((Long, Int)) => Any) = copied.toSeq.sorted
          .map { case (t, l) => s"${str(t)}:${f(l)}" }.mkString("{", ",", "}")
        out.println(s"""{"k":$k,"copy_s":${num((System.nanoTime() - tw) / 1e9)},""" +
          s""""rows":${per(_._1)},"row_groups":${per(_._2)}}""")
        for (name <- names) {
          val prev = cells.filter(_.query == name)
          val cell = prev.find(_.reading.isLeft) match {
            case Some(p) if p.status.startsWith("skipped") => Cell(name, k, Left(p.status))
            case Some(p) => Cell(name, k, Left(s"skipped: ${p.status.takeWhile(_ != ':')} at k=${p.k}"))
            case None if elapsed > BudgetSec => Cell(name, k, Left("budget: the sweep's time budget ran out"))
            case None =>
              // cap the warm-up and the rep at 4× linear growth from the
              // last k, 300 s with no reading yet, and never past the
              // budget left
              val grown = prev.lastOption.flatMap(p => p.wall.map(_ * 4 * k / p.k))
              val cap = math.min(grown.fold(300.0)(math.max(30.0, _)),
                math.max(10.0, (BudgetSec - elapsed) / 2))
              try {
                val r = Bench.timedReps(spark, meter, dst, name, cap, 1).last
                if (r.stalled) Cell(name, k, Left(f"stalled: a run passed the $cap%.0f s cap"))
                else Cell(name, k, Right(r))
              } catch { case NonFatal(e) =>
                Cell(name, k, Left("failed: " +
                  String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")))
              } finally {
                // queries may leave pinned frames behind; free them as Bench does
                Common.unpersistAll(spark)
              }
          }
          cells += cell
          val fields = Seq("query" -> str(name), "k" -> k.toString, "status" -> str(cell.status)) ++
            cell.reading.toOption.toSeq.flatMap(r => ("wall_s" -> num(r.secs)) +: r.layers.attrs)
          out.println(fields.map { case (f, v) => s"${str(f)}:$v" }.mkString("{", ",", "}"))
          out.flush()
          System.err.println(s"[scale-sweep] $name k=$k ${cell.status}" +
            cell.wall.fold("")(w => s" ${num(w)} s") + f" (elapsed $elapsed%.0f s)")
        }
      } finally {
        val root = java.nio.file.Paths.get(dst)
        if (java.nio.file.Files.exists(root)) {
          val walk = java.nio.file.Files.walk(root)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => java.nio.file.Files.deleteIfExists(p))
          finally walk.close()
        }
      }
    }

    // ---- the copies' layout, the cells, the fits
    println("| table | " + layouts.map(l => s"k=${l._1} rows / row groups").mkString(" | ") + " |")
    println("|---|" + layouts.map(_ => "---:|").mkString)
    for (t <- layouts.flatMap(_._2.keys).distinct.sorted)
      println(s"| $t | " + layouts.map(_._2.get(t).fold("")(l => s"${l._1} / ${l._2}"))
        .mkString(" | ") + " |")
    println()
    println("| query | k | wall s | shuffle write MB | tasks | scan tasks | status |")
    println("|---|---:|---:|---:|---:|---:|---|")
    for (cell <- cells) {
      val l = cell.reading.toOption.map(_.layers)
      println(s"| ${cell.query} | ${cell.k} | ${cell.wall.fold("")(num)} | " +
        s"${cell.shuffle.fold("")(b => num(b / 1e6))} | ${l.fold("")(_.tasks.toString)} | " +
        s"${l.fold("")(_.scanTasks.toString)} | ${cell.status} |")
    }
    println()
    println("| query | wall exponent | shuffle exponent | super-linear shuffle |")
    println("|---|---:|---:|---|")
    for (name <- names) {
      val mine = cells.toSeq.filter(c => c.query == name && c.reading.isRight)
      val wallExp = exponent(mine.map(c => (c.k.toDouble, c.wall.get)))
      val shufExp = exponent(mine.map(c => (c.k.toDouble, c.shuffle.get.toDouble)))
      val flag = shufExp.exists(_ > SuperLinear)
      println(s"| $name | ${wallExp.fold("n/a")(num)} | ${shufExp.fold("n/a")(num)} | " +
        s"${if (flag) "**yes**" else ""} |")
      out.println(s"""{"query":${str(name)},"ks":${mine.map(_.k).mkString("[", ",", "]")},""" +
        s""""wall_exponent":${wallExp.fold("null")(num)},""" +
        s""""shuffle_exponent":${shufExp.fold("null")(num)},"super_linear_shuffle":$flag}""")
    }
    out.close()
    spark.stop()
  }
}
