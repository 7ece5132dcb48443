package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Misra-Gries heavy-hitters aggregate: the q130 scale primitive.
  * Unit level exercises the two bounded-memory mechanisms (per-row
  * decrement sweep, merge-time threshold reduction); Spark level
  * proves the coverage guarantee — every item above n/(capacity+1)
  * survives partial aggregation + merge — on data engineered so the
  * sketch genuinely prunes (distinct ≫ capacity).
  */
class MisraGriesSpec extends SparkSpec {
  import spark.implicits._

  private def mg(capacity: Int) = MisraGriesAgg(
    org.apache.spark.sql.catalyst.expressions.BoundReference(0,
      org.apache.spark.sql.types.StringType, nullable = true), capacity)

  test("update absorbs overflow rows via the decrement sweep") {
    val agg = mg(2)
    var buf = agg.createAggregationBuffer()
    def add(item: String): Unit = {
      val row = org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(item))
      buf = agg.update(buf, row)
    }
    add("a"); add("a"); add("a"); add("b")
    // capacity 2 holds {a:3, b:1}; "c" has no slot → sweep: a:2, b drops
    add("c")
    assert(buf.size == 1 && buf.get("a") == 2L)
    // MG invariant held: a's true count 3 > 5/(2+1) and it survived
  }

  test("merge keeps at most capacity entries and preserves counts order") {
    val agg = mg(2)
    val a = new java.util.HashMap[String, Long]()
    a.put("x", 10L); a.put("y", 4L)
    val b = new java.util.HashMap[String, Long]()
    b.put("z", 6L); b.put("x", 1L)
    val m = agg.merge(a, b) // union {x:11, y:4, z:6} → subtract 4 → {x:7, z:2}
    assert(m.size == 2)
    assert(m.get("x") == 7L && m.get("z") == 2L && !m.containsKey("y"))
  }

  test("serialize round-trips partial states") {
    val agg = mg(8)
    val buf = new java.util.HashMap[String, Long]()
    buf.put("hello", 42L); buf.put("unicode-é", 7L); buf.put("", 1L)
    assert(agg.deserialize(agg.serialize(buf)) == buf)
  }

  test("distributed guarantee: candidates cover every item above " +
    "n/(capacity+1) and the exact pass recovers true top-k") {
    // 8 partitions, 20 hot items (~300 each), ~6k near-unique cold keys:
    // distinct >> capacity 64, so both the sweep and the merge reduction
    // fire. The candidate set must still contain ALL hot items.
    val n = 12000
    val items = spark.range(n.toLong).repartition(8)
      .select(when(col("id") % 2 === 0,
        concat(lit("hot_"), (col("id") % 40 / 2).cast("long").cast("string")))
        .otherwise(concat(lit("cold_"), col("id").cast("string")))
        .as("item"))
    val cands = items
      .agg(MisraGriesAgg.mgCandidates(spark, col("item"), 64).as("c"))
      .select(explode(col("c")).as("item"))
      .as[String].collect().toSet
    assert(cands.size <= 64)
    val exact = items.groupBy("item").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)].collect()
    val bound = n.toDouble / 65
    val mustHave = exact.filter(_._2 > bound).map(_._1).toSet
    assert(mustHave.size == 20, s"expected the 20 hot items, got $mustHave")
    assert(mustHave.subsetOf(cands),
      s"missing guaranteed items: ${mustHave -- cands}")
    // end-to-end: exact counting over candidates == true top-10
    val viaSketch = items.join(broadcast(
      items.agg(MisraGriesAgg.mgCandidates(spark, col("item"), 64).as("c"))
        .select(explode(col("c")).as("item"))), "item")
      .groupBy("item").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("item")).limit(10)
      .as[(String, Long)].collect().toSeq
    val viaExact = items.groupBy("item").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("item")).limit(10)
      .as[(String, Long)].collect().toSeq
    assert(viaSketch == viaExact)
  }

  test("non-string input fails at analysis, not mid-task") {
    val err = intercept[Exception] {
      spark.range(5).select(
        call_function(MisraGriesAgg.Name, col("id"), lit(8))).collect()
    }
    assert(err.getMessage.contains("string"), err.getMessage)
  }
}
