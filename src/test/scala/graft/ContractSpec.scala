package graft

/** Driver-contract invariants: violations here break the correctness
  * gate silently (duplicate output columns fail the parquet write;
  * orphan oracle keys make the driver diff phantom queries), so they are
  * pinned as tests. Schema checks are plan-only — nothing executes.
  */
class ContractSpec extends SparkSpec {

  test("registry names are unique and oracle keys all resolve") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries.size >= 70)
  }

  test("every query plans with distinct, non-empty output columns") {
    DeclaredPlans.all.foreach { b =>
      val cols = b.analyzed.schema.fieldNames.toSeq
      assert(cols.nonEmpty, b.name)
      assert(cols.distinct.size == cols.size,
        s"${b.name} has duplicate output columns: $cols")
    }
  }

  test("entry() smoke: flagship query returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** Schema-drift canary: a testdata regeneration that changes a
    * loader-visible dtype must fail HERE by name, not strand dozens of
    * queries at analysis time (round 5 lost 21 queries when events.ts
    * silently moved from TIMESTAMP(NANOS) to timestamp[us]). Only the
    * columns the query surface actually depends on are pinned.
    */
  test("testdata dtype contract: loader-visible schemas match the declared contract") {
    import org.apache.spark.sql.types._
    val expected: Map[String, Map[String, DataType]] = Map(
      "region" -> Map("r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation" -> Map("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType),
      "customer" -> Map("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType),
      "supplier" -> Map("s_suppkey" -> LongType, "s_nationkey" -> IntegerType,
        "s_acctbal" -> DoubleType),
      "part" -> Map("p_partkey" -> LongType, "p_brand" -> StringType,
        "p_type" -> StringType, "p_size" -> IntegerType,
        "p_retailprice" -> DoubleType),
      "orders" -> Map("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderpriority" -> StringType),
      "lineitem" -> Map("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType),
      "documents" -> Map("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      "embeddings" -> Map("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType), "label" -> IntegerType))
    expected.foreach { case (t, cols) =>
      val schema = queries.Common.table(spark, sfDir, t).schema
      cols.foreach { case (c, dt) =>
        val actual = schema.find(_.name == c).map(_.dataType)
        assert(actual.contains(dt), s"$t.$c: expected $dt, got $actual")
      }
      // date/timestamp columns may ship ns or µs physical — both must
      // surface as SOME timestamp the queries can cast; pin the family
      schema.filter(f => f.name == "o_orderdate" || f.name == "l_shipdate")
        .foreach(f => assert(
          f.dataType == TimestampType || f.dataType == TimestampNTZType,
          s"$t.${f.name} drifted to ${f.dataType}"))
    }
    // events goes through the normalizing loader: whatever generation the
    // file is (nanos-as-long or timestamp[us]), queries must see µs
    // TimestampType; a third physical generation fails this line first.
    val ev = queries.Common.events(spark, sfDir).schema
    assert(ev("ts").dataType == TimestampType,
      s"Common.events must normalize ts to TimestampType, got ${ev("ts").dataType}")
    assert(ev("event_id").dataType == LongType)
    assert(ev("user_id").dataType == LongType)
    assert(ev("event_type").dataType == StringType)
    assert(ev("value").dataType == DoubleType)
    assert(ev("props").dataType == StringType)
  }
}
