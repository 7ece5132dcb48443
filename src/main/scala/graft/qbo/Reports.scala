package graft.qbo

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Casts

/** QBO Reports-API pipelines (SURVEY §2.1 S5-S7, §2.2 P6-P9).
  *
  * Three parse shapes:
  *  - [[ProfitAndLoss]]: recursive report tree → (path, account, total)
  *    rows (P6, qb_profit&loss.py:73-103), flatMapped on executors so a
  *    years-long backfill of monthly reports parallelizes per month;
  *  - [[TransactionList]]: tabular rows under declared schema (P7);
  *  - [[TransactionListByVendor]]: 2-level vendor-grouped rows (P8) —
  *    implementing the *intended* semantics of the reference script,
  *    which is dead code due to an IndentationError
  *    (qb_transactionlistbyvendordetail.py:104, SURVEY §0.1).
  */
object Reports {

  /** Live fetch loops for the three report pipelines — the driver-side
    * request shapes of the reference scripts, expressed over the
    * [[QboReportsApi]] seam so the same code runs against
    * [[QboHttpApi]] (live) or a fixture/in-process-server backend.
    * Parsing stays in the objects below; these only move report text.
    */
  object Fetch {

    /** S5 month loop (qb_profit&loss.py:53-64): one GET per month with
      * `start_date` = first day and `end_date` = last day of the month
      * (the reference's `relativedelta(day=31)`), keyed by `YYYY-MM`.
      */
    def profitAndLoss(api: QboReportsApi, firstMonth: java.time.YearMonth,
        lastMonth: java.time.YearMonth): Seq[(String, String)] =
      Iterator.iterate(firstMonth)(_.plusMonths(1))
        .takeWhile(!_.isAfter(lastMonth))
        .map { m =>
          m.toString -> api.report("ProfitAndLoss", Seq(
            "start_date" -> m.atDay(1).toString,
            "end_date" -> m.atEndOfMonth().toString))
        }.toSeq

    /** S6 single tabular fetch (qb_transactionlist.py:54-60). */
    def transactionList(api: QboReportsApi, startDate: String,
        endDate: String): String =
      api.report("TransactionList", Seq(
        "start_date" -> startDate, "end_date" -> endDate))

    /** S7 paginated fetch with server-side column projection — the only
      * pushdown the reference performs (SURVEY §4). Stop predicate is
      * the response's `hasMore` flag with `start_position += max_results`
      * (qb_transactionlistbyvendordetail.py:52-70,120-121); absent
      * `hasMore` means done, so a single-page server terminates cleanly.
      */
    def transactionListByVendor(api: QboReportsApi, startDate: String,
        endDate: String, pageSize: Int = 100,
        columns: Option[String] = None): Seq[String] = {
      val mapper = new ObjectMapper()
      val pages = scala.collection.mutable.ArrayBuffer.empty[String]
      var pos = 1
      var more = true
      while (more) {
        val page = api.report("TransactionListByVendor", Seq(
          "start_date" -> startDate, "end_date" -> endDate,
          "start_position" -> pos.toString,
          "max_results" -> pageSize.toString) ++
          columns.map("columns" -> _))
        pages += page
        more = mapper.readTree(page).path("hasMore").asBoolean(false)
        pos += pageSize
      }
      pages.toSeq
    }
  }

  /** One flattened P&L line (IR of E2, SURVEY §3). */
  case class PnlFlat(path: String, account: String, total: String, month: String)

  object ProfitAndLoss {

    /** Recursive DFS over the report tree — a faithful re-expression of
      * process_row (qb_profit&loss.py:73-103): Header rows emit
      * (path, name, total), children recurse with `path + " -> " +
      * header`, ColData leaves emit values, Summary rows emit with the
      * `" (Summary)"` suffix.
      */
    def flattenTree(reportJson: String, month: String, mapper: ObjectMapper): Seq[PnlFlat] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[PnlFlat]
      def colData(n: JsonNode, i: Int): String = {
        val v = n.path(i).path("value")
        if (v.isMissingNode) "" else v.asText()
      }
      def processRow(row: JsonNode, path: String): Unit = {
        if (row.has("Header")) {
          val h = row.path("Header").path("ColData")
          out += PnlFlat(path, colData(h, 0), colData(h, 1), month)
        }
        if (row.has("Rows")) {
          val subPath = path + " -> " + colData(row.path("Header").path("ColData"), 0)
          row.path("Rows").path("Row").forEach(sub => processRow(sub, subPath))
        }
        if (row.has("ColData")) {
          val c = row.path("ColData")
          out += PnlFlat(path, colData(c, 0), colData(c, 1), month)
        }
        if (row.has("Summary")) {
          val s = row.path("Summary").path("ColData")
          out += PnlFlat(path + " (Summary)", colData(s, 0), colData(s, 1), month)
        }
      }
      mapper.readTree(reportJson).path("Rows").path("Row")
        .forEach(row => processRow(row, ""))
      out.toSeq
    }

    /** (month, reportJson) pairs → flattened Dataset. Executor-side
      * parse: one task per month partition, scales to arbitrary
      * backfills (the reference loops months serially on the driver).
      */
    def flatten(spark: SparkSession, monthReports: Seq[(String, String)]): Dataset[PnlFlat] = {
      import spark.implicits._
      spark.createDataset(monthReports).mapPartitions { it =>
        val mapper = new ObjectMapper()
        it.flatMap { case (month, json) => flattenTree(json, month, mapper) }
      }
    }

    /** Cleanup layer (qb_profit&loss.py:110-119): coerce Total, map
      * empty Account to "0" (the declared effect of replace(''→NA) +
      * fillna(0) on a string column), drop Path, rename, month column.
      */
    def stage(flat: DataFrame): DataFrame = flat
      .select(
        when(col("account") === "", lit("0")).otherwise(col("account")).as("category"),
        coalesce(Casts.coerce(col("total"), "double"), lit(0.0)).as("total_amount"),
        col("month"))

    /** W5 append layer: the TO_CHAR month label (C8). */
    def warehouse(staged: DataFrame): DataFrame =
      staged.withColumn("month", Casts.monthLabel(col("month")))
  }

  private def f(n: String, t: DataType) = StructField(n, t)
  private val colData = ArrayType(StructType(Seq(f("value", StringType), f("id", StringType))))

  object TransactionList {
    /** qb_transactionlist.py:67-85. */
    val schema: StructType = StructType(Seq(
      f("Header", StructType(Seq(f("StartPeriod", StringType), f("EndPeriod", StringType)))),
      f("Columns", StructType(Seq(f("Column", ArrayType(StructType(Seq(f("ColTitle", StringType)))))))),
      f("Rows", StructType(Seq(f("Row", ArrayType(StructType(Seq(f("ColData", colData))))))))))

    /** Reference's positional target names (qb_transactionlist.py:104-118). */
    val names: Seq[String] = Seq("date", "transaction_type", "doc_num",
      "is_no_post", "name", "description", "account_name", "split", "amount")

    def parse(spark: SparkSession, reportJson: String): DataFrame = {
      import spark.implicits._
      // FAILFAST: a truncated or drifted report must raise, not parse to
      // 0 rows that a full refresh would then load over the table
      val report = spark.read.schema(schema).option("mode", "FAILFAST")
        .json(spark.createDataset(Seq(reportJson)))
      val rows = report.select(
        col("Header.StartPeriod").as("start_period"),
        col("Header.EndPeriod").as("end_period"),
        explode(col("Rows.Row")).as("r"))
        .withColumn("cells", transform(col("r.ColData"), c => c.getField("value")))
      val positional = names.zipWithIndex.map { case (n, i) =>
        element_at(col("cells"), i + 1).as(n)
      }
      rows.select(positional ++ Seq(col("start_period"), col("end_period")): _*)
        .withColumn("amount", Casts.coerce(col("amount"), "double"))
    }

    /** W4 cast layer (qb_transactionlist.py:166-180). */
    def warehouse(staged: DataFrame): DataFrame = staged
      .withColumn("date", Casts.toDateYmd(col("date")))
      .withColumn("start_period", Casts.toDateYmd(col("start_period")))
      .withColumn("end_period", Casts.toDateYmd(col("end_period")))
  }

  object TransactionListByVendor {
    /** Intended shape (qb_transactionlistbyvendordetail.py:86-99 + DDL
      * :168-181).
      */
    private val txnRow = StructType(Seq(f("ColData", colData)))
    private val vendorSection = StructType(Seq(
      f("Header", StructType(Seq(f("ColData", colData)))),
      f("Rows", StructType(Seq(f("Row", ArrayType(txnRow)))))))
    val schema: StructType = StructType(Seq(
      f("Header", StructType(Seq(f("Time", StringType),
        f("StartPeriod", StringType), f("EndPeriod", StringType)))),
      f("Rows", StructType(Seq(f("Row", ArrayType(vendorSection)))))))

    val txnNames: Seq[String] = Seq("date", "transaction_type", "doc_num",
      "posting", "description", "account")

    def parse(spark: SparkSession, reportJson: String): DataFrame =
      parsePages(spark, Seq(reportJson))

    /** Union-of-pages variant for the paginated live fetch (S7): each
      * page is a full report envelope; rows parse per page and
      * concatenate — the reference's `all_transaction_data.extend`.
      */
    def parsePages(spark: SparkSession, reportJsons: Seq[String]): DataFrame = {
      import spark.implicits._
      val report = spark.read.schema(schema).option("mode", "FAILFAST")
        .json(spark.createDataset(reportJsons))
      val vendors = report.select(
        col("Header.Time").as("report_time"),
        col("Header.StartPeriod").as("start_period"),
        col("Header.EndPeriod").as("end_period"),
        explode(col("Rows.Row")).as("v"))
      // Vendors with no transactions are kept (explode_outer), with null
      // transaction columns — the DDL admits nulls and dropping vendors
      // silently would hide data.
      val txns = vendors.select(
        element_at(col("v.Header.ColData"), 1).getField("id").cast("int").as("vendor_id"),
        element_at(col("v.Header.ColData"), 1).getField("value").as("vendor_name"),
        col("report_time"), col("start_period"), col("end_period"),
        explode_outer(col("v.Rows.Row")).as("t"))
        .withColumn("cells", transform(col("t.ColData"), c => c.getField("value")))
      val positional = txnNames.zipWithIndex.map { case (n, i) =>
        element_at(col("cells"), i + 1).as(n)
      }
      txns.select(Seq(col("vendor_id"), col("vendor_name")) ++ positional ++
          Seq(element_at(col("cells"), 7).as("amount"),
            col("start_period"), col("end_period"), col("report_time")): _*)
        .withColumn("amount",
          Casts.coerce(Casts.emptyToNull(col("amount")), "double"))
    }

    /** W4 cast layer (qb_transactionlistbyvendordetail.py:185-199). */
    def warehouse(staged: DataFrame): DataFrame = staged
      .withColumn("date", Casts.toDateYmd(col("date")))
      .withColumn("start_period", Casts.toDateYmd(col("start_period")))
      .withColumn("end_period", Casts.toDateYmd(col("end_period")))
      .withColumn("report_time", Casts.toDateYmd(col("report_time")))
  }
}
