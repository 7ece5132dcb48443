package graft.streaming

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkSpec
import graft.queries.Common

/** The drain helpers every streaming query runs through: a staged
  * stream drains in [[Common.StagedBatches]] micro-batches under
  * [[Common.DrainShuffle]] partitions, a replayed table streams only
  * its own file, and success and failure alike leave no stream
  * running, no checkpoint on disk and the session's partition count
  * as it was.
  */
class DrainSpec extends SparkSpec {
  import spark.implicits._

  private val key = Files.createTempDirectory("graft_drainspec").toString

  /** What a drain must leave behind, whether it succeeded or failed. */
  private def assertTornDown(dir: String, parts: String): Unit = {
    assert(!Files.exists(Paths.get(dir, "_chk")), "checkpoint left behind")
    assert(spark.streams.active.isEmpty, "a stream is still running")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parts)
  }

  test("a staged stream drains every row in StagedBatches batches, " +
      "then tears down") {
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val stream = Common.stagedStream(spark.range(10).toDF("id"), col("id"),
      "drainspec_in", key)
    val dir = Common.scratchDir("drainspec_ok", key)
    val rows = ArrayBuffer.empty[Long]
    val batchParts = ArrayBuffer.empty[String]
    Common.drain(spark, dir) {
      stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
        rows ++= batch.as[Long].collect()
        batchParts += batch.sparkSession.conf.get("spark.sql.shuffle.partitions")
        ()
      }
    }
    assert(rows.sorted == (0L until 10L))
    assert(batchParts == Seq.fill(Common.StagedBatches)(Common.DrainShuffle.toString))
    assertTornDown(dir, parts)
  }

  test("a batch that throws on the driver fails the drain with its " +
      "message, and the drain still tears down") {
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val stream = Common.stagedStream(spark.range(4).toDF("id"), col("id"),
      "drainspec_in", key)
    val dir = Common.scratchDir("drainspec_fail", key)
    val e = intercept[StreamingQueryException] {
      Common.drain(spark, dir) {
        stream.writeStream.foreachBatch { (_: DataFrame, _: Long) =>
          throw new IllegalStateException("drainspec: batch refused")
        }
      }
    }
    assert(e.getMessage.contains("drainspec: batch refused"), e.getMessage)
    assertTornDown(dir, parts)
  }

  test("a replayed table streams only its own file into a parquet sink") {
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val sf = Files.createTempDirectory("graft_drainspec_sf")
    // sf tables are single files, which is what the glob matches
    def table(name: String, ids: Seq[Long]): Unit = {
      val tmp = sf.resolve(s"_$name").toString
      ids.toDF("doc_id").coalesce(1).write.parquet(tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, sf.resolve(s"$name.parquet"))
    }
    table("documents", Seq(1L, 2L, 3L))
    table("other", Seq(9L))
    val dir = Common.scratchDir("drainspec_replay", key)
    Common.drain(spark, dir) {
      Common.replayStream(spark, sf.toString, "documents")
        .writeStream.format("parquet").option("path", s"$dir/data")
    }
    assert(spark.read.parquet(s"$dir/data").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 3L))
    assertTornDown(dir, parts)
  }

  test("scratch dirs of exited JVMs are swept; a live JVM's dirs stay") {
    // a pid that has certainly exited: a child we started and reaped
    val child = new ProcessBuilder("true").start()
    child.waitFor()
    val deadPid = child.pid()
    assert(ProcessHandle.of(deadPid).isEmpty)
    val root = Paths.get(Common.scratchRoot)
    val dead = Files.createDirectories(root.resolve(s"graft_drainspec_ab12_p$deadPid"))
    Files.write(dead.resolve("leftover"), Array[Byte](1, 2, 3))
    val live = Files.createDirectories(
      root.resolve(s"graft_drainspec_ab12_p${ProcessHandle.current().pid()}"))
    try {
      Common.sweepDeadScratch()
      assert(!Files.exists(dead), s"$dead survived the sweep")
      assert(Files.isDirectory(live), s"$live of this live JVM was deleted")
    } finally Files.deleteIfExists(live)
  }
}
