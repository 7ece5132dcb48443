package graft.qbo

import org.apache.spark.sql.functions._

import graft.SparkSpec

class QboSourceSpec extends SparkSpec {

  /** Fake paginated API: `total` rows of a minimal Deposit entity. */
  private class FakeApi(total: Int) extends QboApi {
    var calls = 0
    def queryPage(entity: String, startPosition: Int): String = {
      calls += 1
      val n = math.max(0, math.min(QboSource.PageSize, total - (startPosition - 1)))
      val rows = (0 until n).map { i =>
        s"""{"Id": "${startPosition + i}", "TotalAmt": 1.0, "TxnDate": "2024-01-01"}"""
      }.mkString(",")
      s"""{"QueryResponse": {"$entity": [$rows], "startPosition": $startPosition}}"""
    }
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")

  test("fetchAll paginates to exhaustion with len-based predicate (S3/S4)") {
    val api = new FakeApi(207)
    val df = QboSource.fetchAll(api, "Deposit", Schemas.deposit, spark)
    assert(df.count() == 207)
    assert(api.calls == 3) // 100 + 100 + 7
    // robust even though the fake omits maxResults (SURVEY §0.1)
    assert(df.select(countDistinct(col("Id"))).head.getLong(0) == 207)
  }

  test("empty feed → empty typed frame, pipelines stay total") {
    val api = new FakeApi(0)
    val df = QboSource.fetchAll(api, "Deposit", Schemas.deposit, spark)
    assert(df.count() == 0)
    val staged = Entities.Deposits.warehouse(Entities.Deposits.stage(df))
    assert(staged.count() == 0)
    assert(staged.columns.length == 10) // schema intact on empty input
  }

  test("fetchAll handles an exact page-multiple result set") {
    val api = new FakeApi(200)
    val df = QboSource.fetchAll(api, "Deposit", Schemas.deposit, spark)
    assert(df.count() == 200)
    assert(api.calls == 3) // trailing empty page terminates
  }

  test("schema drift: unknown fields ignored, dropped declared fields " +
    "null (layer-1 policy)") {
    val page = """{"QueryResponse": {"Bill": [
      {"Id": "1", "TxnDate": "2024-01-05", "Balance": 5.0,
       "BrandNewStruct": {"x": 1}, "another_unknown": "y"},
      {"Id": "2"}
    ], "maxResults": 2, "startPosition": 1}}"""
    val df = QboSource.entityFrame(spark, "Bill", Seq(page), Schemas.bill)
    assert(df.count() == 2)
    // the declared selection schema is the contract — additions the API
    // grows do not leak into the frame
    assert(!df.columns.contains("BrandNewStruct"))
    assert(!df.columns.contains("another_unknown"))
    // a field the API dropped parses as null and flows into the cast
    // layer's null handling
    val r2 = df.filter(col("Id") === "2").select("TxnDate", "Balance").head
    assert(r2.isNullAt(0) && r2.isNullAt(1))
    val r1 = df.filter(col("Id") === "1").select("Balance").head
    assert(r1.getDouble(0) == 5.0)
  }

  test("schema drift: malformed page fails LOUDLY, never as a silently " +
    "empty page") {
    // invalid JSON: a PERMISSIVE parse would read this as a null
    // envelope → zero rows → an invisible partial load
    val invalid = """{"QueryResponse": {"Bill": [{"Id": "1"]}}"""
    val e1 = intercept[Throwable] {
      QboSource.entityFrame(spark, "Bill", Seq(invalid), Schemas.bill).count()
    }
    assert(messages(e1).contains("declared-schema parse"), messages(e1))
    // type drift that defeats the declared schema (Balance: object where
    // double is declared) is drift, not data
    val typeDrift = """{"QueryResponse": {"Bill": [
      {"Id": "1", "Balance": {"amount": 5.0}}], "maxResults": 1}}"""
    val e2 = intercept[Throwable] {
      QboSource.entityFrame(spark, "Bill", Seq(typeDrift), Schemas.bill).count()
    }
    assert(messages(e2).contains("declared-schema parse"), messages(e2))
  }

  test("schema drift through the DSv2 source: unknowns ignored, missing " +
    "fields null, malformed pages loud") {
    import graft.sources.QboPageFeeds
    QboPageFeeds.register("drift_ok", Seq(
      """{"QueryResponse": {"Bill": [
        {"Id": "7", "TxnDate": "2024-02-02", "futureField": [1, 2]},
        {"Id": "8", "Balance": 1.25}
      ], "maxResults": 2}}"""))
    val df = spark.read.format("qbo")
      .option("entity", "Bill").option("feed", "drift_ok").load()
    assert(df.count() == 2)
    assert(!df.columns.contains("futureField"))
    assert(df.filter(col("Id") === "8").select("TxnDate").head.isNullAt(0))
    // truncated JSON, then a type-drifted element next to a good one: a
    // drifted field fails its page, never reads back as null
    Seq("""{"QueryResponse": {"Bill":""",
      """{"QueryResponse": {"Bill": [{"Id": "1", "Balance": 2.0},
        {"Id": "2", "Balance": "abc"}]}}""",
      """{"QueryResponse": {"Bill": [{"Id": "1", "Balance": 2.0},
        {"Id": "2", "Balance": {"amount": 5.0}}]}}""").zipWithIndex
      .foreach { case (page, i) =>
        QboPageFeeds.register(s"drift_bad_$i", Seq(page))
        val e = intercept[Throwable] {
          spark.read.format("qbo").option("entity", "Bill")
            .option("feed", s"drift_bad_$i").load().select("Id", "Balance").collect()
        }
        assert(messages(e).contains("declared-schema parse"), messages(e))
      }
  }
}

class ReportsSpec extends SparkSpec {

  test("P&L tree flatten reproduces process_row paths exactly (P6)") {
    val flat = Reports.ProfitAndLoss.flatten(spark, Fixtures.pnlReports.take(1))
      .collect().map(r => (r.path, r.account, r.total)).toSeq
    assert(flat.contains(("", "Income", "")))
    assert(flat.contains((" -> Income", "Sales", "1000.00")))
    assert(flat.contains((" -> Income", "Services", "")))
    assert(flat.contains((" -> Income -> Services", "Consulting", "250.00")))
    // Summary of a nested section carries the parent path + suffix
    assert(flat.contains((" -> Income (Summary)", "Total Services", "250.00")))
    assert(flat.contains((" (Summary)", "Total Income", "1250.00")))
    assert(flat.size == 10)
  }

  test("ByVendor keeps vendors with no transactions (P8 intended semantics)") {
    val df = Reports.TransactionListByVendor.parse(spark, Fixtures.byVendorReport)
    val beta = df.filter(col("vendor_id") === 57).collect()
    assert(beta.length == 1)
    assert(beta.head.isNullAt(beta.head.fieldIndex("date")))
    assert(beta.head.getString(beta.head.fieldIndex("vendor_name")) == "Beta Parts")
  }

  test("TransactionList positional parse + coerced amount (P7/C2)") {
    val df = Reports.TransactionList.parse(spark, Fixtures.transactionListReport)
    assert(df.columns.length == 11)
    val amounts = df.orderBy("date").select("amount").collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    assert(amounts == Seq(Some(1250.5), None))
  }

  test("a truncated or drifted report raises instead of parsing to 0 rows") {
    val tl = Fixtures.transactionListReport
    val drifted = tl.replaceFirst("\"Row\"\\s*:\\s*\\[", "\"Row\": \"x\", \"Was\": [")
    assert(drifted != tl)
    val byVendor = Fixtures.byVendorReport
    for ((what, df) <- Seq(
        "truncated TransactionList" -> (() =>
          Reports.TransactionList.parse(spark, tl.take(tl.length / 2))),
        "drifted TransactionList" -> (() =>
          Reports.TransactionList.parse(spark, drifted)),
        "truncated ByVendor page" -> (() =>
          Reports.TransactionListByVendor.parsePages(spark,
            Seq(byVendor, byVendor.take(byVendor.length / 2)))))) {
      val e = intercept[Exception](df().collect())
      assert(e.getMessage.contains("MALFORMED_RECORD_IN_PARSING"),
        s"$what -> ${e.getMessage}")
    }
  }
}

class WarehouseSpec extends SparkSpec {
  import graft.load.Warehouse

  test("toJdbc round-trips through an embedded Derby warehouse (W3-jdbc)") {
    import spark.implicits._
    val url = "jdbc:derby:memory:graftdb;create=true"
    val df = Seq((1, "a", 10.5), (2, "b", 20.0), (3, "c", -1.25))
      .toDF("id", "v", "amt")
    Warehouse.toJdbc(df, url, "t_jdbc")
    // overwrite mode is idempotent — re-run replaces, not double-loads
    Warehouse.toJdbc(df, url, "t_jdbc")
    val got = Warehouse.fromJdbc(spark, url, "t_jdbc")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set((1, "a", 10.5), (2, "b", 20.0), (3, "c", -1.25)))
  }

  test("debugCsv writes one header'd file that reads back (W2)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString + "/out"
    val df = Seq(("x", 1.5), ("y", 2.0)).toDF("k", "amount")
    Warehouse.debugCsv(df, dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length == 1, files.toSeq) // coalesce(1): a single debug file
    val back = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(dir)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(back == Set(("x", 1.5), ("y", 2.0)))
  }

  test("debugCsv round-trips null vs empty string DISTINCTLY (W2, " +
      "ADVICE-r7)") {
    // The writer marks null as \N and empty as "" — and the READER must
    // set only nullValue: univocity's read-side emptyValue is a
    // substitution, so the round-7 reader turned a genuine empty string
    // into the literal 2-char text `""` (verified in ADVICE-r7).
    val dir = java.nio.file.Files
      .createTempDirectory("graft_csv_ne").toString + "/out"
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1, "plain"),
        org.apache.spark.sql.Row(2, ""),
        org.apache.spark.sql.Row(3, null)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType))))
    Warehouse.debugCsv(df, dir)
    val back = Warehouse.fromDebugCsv(spark, dir, df.schema)
      .collect().map(r => (r.getInt(0), Option(r.get(1)))).toSet
    assert(back == Set((1, Some("plain")), (2, Some("")), (3, None)), back)
  }

  test("writeZOrdered narrows per-file ranges on BOTH columns (W6)") {
    // Z-order vs linear sort: after a linear sort by l_orderkey the
    // second column spans nearly its whole domain in every file (scan
    // pruning on it is impossible); the Morton layout keeps per-file
    // min-max ranges narrow on both columns, which is what lets parquet
    // stats prune on either predicate.
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    def spreads(path: String): (Double, Double) = {
      val f = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg((max("l_orderkey") - min("l_orderkey")).as("r1"),
          (max("l_partkey") - min("l_partkey")).as("r2"))
        .agg(avg("r1"), avg("r2")).head()
      (f.getDouble(0), f.getDouble(1))
    }
    val g = li.agg(max("l_orderkey") - min("l_orderkey"),
      max("l_partkey") - min("l_partkey")).head()
    val (g1, g2) = (g.getLong(0).toDouble, g.getLong(1).toDouble)

    val base = java.nio.file.Files.createTempDirectory("graft_z").toString
    Warehouse.writeZOrdered(li, s"$base/zorder", "l_orderkey", "l_partkey", 8)
    li.repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(s"$base/linear")

    val (z1, z2) = spreads(s"$base/zorder")
    val (l1, l2) = spreads(s"$base/linear")
    // linear: leading column tightly clustered, second column useless
    assert(l1 / g1 < 0.3, s"linear leading spread ${l1 / g1}")
    assert(l2 / g2 > 0.8, s"linear second spread ${l2 / g2}")
    // z-order: BOTH columns substantially narrowed per file
    assert(z1 / g1 < 0.7, s"zorder c1 spread ${z1 / g1}")
    assert(z2 / g2 < 0.7, s"zorder c2 spread ${z2 / g2}")
    // round-trip integrity: same rows, layout only
    assert(spark.read.parquet(s"$base/zorder").count() == li.count())
  }

  test("writeZOrdered fails fast on non-numeric clustering columns " +
    "and survives user columns named like its internals") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_zv").toString
    // a string clustering column would min-max to null and produce a
    // constant key — the silent-degradation path must be an error
    val bad = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val e = intercept[IllegalArgumentException] {
      Warehouse.writeZOrdered(bad, s"$base/bad", "k", "s", 2)
    }
    assert(e.getMessage.contains("non-numeric") ||
      e.getMessage.contains("numeric"), e.getMessage)
    val missing = intercept[IllegalArgumentException] {
      Warehouse.writeZOrdered(bad, s"$base/miss", "k", "nope", 2)
    }
    assert(missing.getMessage.contains("no column"), missing.getMessage)
    // user columns colliding with the internal stat/key names must ride
    // through untouched (the pass picks fresh names)
    val clash = (1L to 100L).map(i => (i, i * 2, i.toString, i * 1.0))
      .toDF("a", "b", "__graft_z", "__graft_mn1")
    Warehouse.writeZOrdered(clash, s"$base/clash", "a", "b", 2)
    val back = spark.read.parquet(s"$base/clash")
    assert(back.columns.sorted.toSeq ==
      Seq("__graft_mn1", "__graft_z", "a", "b"))
    assert(back.count() == 100)
    assert(back.filter(col("__graft_z") === col("a").cast("string")).count() == 100)
  }

  test("fullRefresh overwrites atomically (W4)") {
    import spark.implicits._
    Warehouse.fullRefresh(Seq((1, "a"), (2, "b")).toDF("id", "v"), "t_refresh")
    Warehouse.fullRefresh(Seq((3, "c")).toDF("id", "v"), "t_refresh")
    assert(spark.table("t_refresh").count() == 1)
    spark.sql("DROP TABLE t_refresh")
  }

  test("appendMonth is idempotent per month (W5 re-run hole fixed)") {
    import spark.implicits._
    val jan = Seq(("x", 1.0, "2024-01"), ("y", 2.0, "2024-01"))
      .toDF("category", "total_amount", "month")
    val feb = Seq(("x", 3.0, "2024-02")).toDF("category", "total_amount", "month")
    Warehouse.appendMonth(jan, "t_pnl")
    Warehouse.appendMonth(feb, "t_pnl")
    Warehouse.appendMonth(jan, "t_pnl") // re-run January
    val got = spark.table("t_pnl")
    assert(got.count() == 3) // not 5 — January replaced, not double-loaded
    assert(got.filter(col("month") === "2024-02").count() == 1)
    assert(Warehouse.auditCounts(feb, "t_pnl")._1 == 1)
    spark.sql("DROP TABLE t_pnl")
  }

  test("mergeScd2 closes changed rows, keeps no-ops, inserts new keys, " +
    "leaves absent keys current") {
    import spark.implicits._
    val dim = Seq(
      (1L, "A", "2024-01-01", null.asInstanceOf[String]),
      (2L, "B", "2024-01-01", null.asInstanceOf[String]),
      (3L, "C", "2024-01-01", null.asInstanceOf[String]),
      // pre-existing history row: must pass through untouched
      (1L, "OLD", "2023-01-01", "2024-01-01"))
      .toDF("k", "v", "valid_from", "valid_to")
    val batch = Seq(
      (1L, "A2"), // changed → close + reopen
      (2L, "B"), // no-op re-send → untouched
      (9L, "NEW")) // brand-new key → insert
    // key 3 absent from the CDC batch → stays current
      .toDF("k", "v")
    val out = Warehouse.mergeScd2(dim, batch, "k", Seq("v"), "2024-06-15")
      .as[(Long, String, String, Option[String])].collect().toSet
    assert(out == Set(
      (1L, "OLD", "2023-01-01", Some("2024-01-01")),
      (1L, "A", "2024-01-01", Some("2024-06-15")),
      (1L, "A2", "2024-06-15", None),
      (2L, "B", "2024-01-01", None),
      (3L, "C", "2024-01-01", None),
      (9L, "NEW", "2024-06-15", None)))
  }

  test("mergeScd2 re-running the same batch is a no-op (idempotent CDC)") {
    import spark.implicits._
    val dim = Seq((1L, "A", "2024-01-01", null.asInstanceOf[String]))
      .toDF("k", "v", "valid_from", "valid_to")
    val batch = Seq((1L, "A2"), (2L, "X")).toDF("k", "v")
    val once = Warehouse.mergeScd2(dim, batch, "k", Seq("v"), "2024-06-15")
    val twice = Warehouse.mergeScd2(once, batch, "k", Seq("v"), "2024-07-01")
    // second merge finds every batch value already current → no new
    // versions, no re-closed rows
    assert(twice.as[(Long, String, String, Option[String])].collect().toSet
      == once.as[(Long, String, String, Option[String])].collect().toSet)
  }

  test("mergeScd2 over a BUCKETED dimension shuffles only the batch " +
    "(the at-scale claim in BASELINE round 5)") {
    import spark.implicits._
    val dim = spark.range(1000)
      .select(col("id").as("k"), (col("id") % 5).cast("string").as("v"),
        lit("2024-01-01").as("valid_from"),
        lit(null).cast("string").as("valid_to"))
    Warehouse.writeBucketed(dim, "t_scd2_dim", "k", 4)
    try {
      val stored = spark.table("t_scd2_dim")
      val batch = Seq((3L, "changed"), (2000L, "new")).toDF("k", "v")
      val merged = Warehouse.mergeScd2(stored, batch, "k", Seq("v"),
        "2024-06-15")
      val plan = merged.queryExecution.executedPlan.toString
      // exactly ONE exchange: the batch side repartitioning to the
      // dimension's bucket layout — the dim side reads pre-bucketed
      assert("Exchange hashpartitioning".r
        .findAllMatchIn(plan).size == 1, plan)
      assert(merged.filter(col("valid_to").isNotNull).count() == 1)
      assert(merged.count() == 1002) // 1000 kept/closed + reopened + new
    } finally spark.sql("DROP TABLE t_scd2_dim")
  }

  test("mergeScd2 null-safe comparison: null tracked values are not " +
    "spurious changes") {
    import spark.implicits._
    val dim = Seq((1L, null.asInstanceOf[String], "2024-01-01",
      null.asInstanceOf[String])).toDF("k", "v", "valid_from", "valid_to")
    val batch = Seq((1L, null.asInstanceOf[String])).toDF("k", "v")
    val out = Warehouse.mergeScd2(dim, batch, "k", Seq("v"), "2024-06-15")
    assert(out.count() == 1) // null == null under <=> → no-op
    assert(out.filter(col("valid_to").isNull).count() == 1)
  }
}

/** SURVEY §7 money-mode contract: `spark.graft.money=decimal` switches
  * entity money columns (balance, total_amt, line_amount) to exact
  * DecimalType(18,2) through stage AND warehouse; the default stays
  * DoubleType for reference parity.
  */
class MoneyModeSpec extends SparkSpec {
  import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType}

  private def raw(entity: String, pages: Seq[String],
      schema: org.apache.spark.sql.types.StructType) =
    QboSource.entityFrame(spark, entity, pages, schema)

  private def typesOf(mode: Option[String]): Map[String, DataType] = {
    mode match {
      case Some(m) => spark.conf.set("spark.graft.money", m)
      case None => spark.conf.unset("spark.graft.money")
    }
    try {
      val bills = Entities.Bills.warehouse(Entities.Bills.stage(
        raw("Bill", Fixtures.billPages, Schemas.bill)))
      val pur = Entities.Purchases.warehouse(Entities.Purchases.stage(
        raw("Purchase", Fixtures.purchasePages, Schemas.purchase)))
      Map(
        "balance" -> bills.schema("balance").dataType,
        "total_amt" -> pur.schema("total_amt").dataType,
        "line_amount" -> pur.schema("line_amount").dataType)
    } finally spark.conf.unset("spark.graft.money")
  }

  test("default mode keeps money columns DoubleType (reference parity)") {
    assert(typesOf(None).values.toSet == Set(DoubleType))
  }

  test("decimal mode flows DecimalType(18,2) stage → warehouse, values exact") {
    assert(typesOf(Some("decimal")).values.toSet == Set(DecimalType(18, 2)))
    spark.conf.set("spark.graft.money", "decimal")
    try {
      val staged = Entities.Bills.stage(raw("Bill", Fixtures.billPages, Schemas.bill))
      assert(staged.schema("balance").dataType == DecimalType(18, 2))
      val vals = Entities.Bills.warehouse(staged)
        .select("balance").collect().flatMap(r => Option(r.getDecimal(0)))
        .map(_.toPlainString).toSet
      assert(vals.contains("1250.50"), vals)
    } finally spark.conf.unset("spark.graft.money")
  }

  test("invalid money mode fails with a clear message") {
    spark.conf.set("spark.graft.money", "float")
    try {
      val e = intercept[IllegalArgumentException] {
        Entities.Bills.stage(raw("Bill", Fixtures.billPages, Schemas.bill))
      }
      assert(e.getMessage.contains("spark.graft.money"))
    } finally spark.conf.unset("spark.graft.money")
  }
}
