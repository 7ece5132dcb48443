package qbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType}

import graft.load.Warehouse
import graft.ops.Casts
import graft.qbo.{Entities, QboHttpApi, QboOAuth2TokenSource, Reports}

/** qbo_etl: the reference's own job at volume. Five entities come in
  * through the `qbo` DSv2 source over HTTP, three reports through
  * `Reports.Fetch` over `QboHttpApi`, all from [[LoopbackQbo]]; every
  * table is staged, cast, landed in the warehouse and read back.
  */
final class QboEtl(run: Run, gen: QboGen) extends Workload {
  private val spark = run.spark
  val server = new LoopbackQbo(gen, run.nproc)

  private val entityTables = Seq("Bill" -> "bills", "BillPayment" -> "billpayments",
    "JournalEntry" -> "journalentries", "Purchase" -> "purchases", "Deposit" -> "deposits")

  private val stages: Map[String, DataFrame => DataFrame] = Map(
    "Bill" -> Entities.Bills.stage, "BillPayment" -> Entities.BillPayments.stage,
    "JournalEntry" -> Entities.JournalEntries.stage, "Purchase" -> Entities.Purchases.stage,
    "Deposit" -> Entities.Deposits.stage)
  private val warehouses: Map[String, DataFrame => DataFrame] = Map(
    "Bill" -> Entities.Bills.warehouse, "BillPayment" -> Entities.BillPayments.warehouse,
    "JournalEntry" -> Entities.JournalEntries.warehouse, "Purchase" -> Entities.Purchases.warehouse,
    "Deposit" -> Entities.Deposits.warehouse)

  run.expectTables(entityTables.map(_._2) ++ Seq("pnl", "transactionlist", "byvendor"): _*)

  private def api = new QboHttpApi(server.baseUrl, server.realm,
    new QboOAuth2TokenSource(server.tokenUrl, server.clientId, server.clientSecret,
      server.initialRefreshToken))

  /** Land, read back, compare with what the generator emitted. */
  private def landAndCheck(table: String, df: DataFrame, load: DataFrame => Unit): Option[String] = {
    run.layer("load.write")(load(df))
    val t = gen.truth(table)
    // one pass over what landed: the digest evaluates every column
    val (rows, _, sums) = run.layer("load.readback") {
      Digest.withSums(spark.table(table), col(t.moneyCol).cast(DecimalType(18, 2)))
    }
    val cents = sums.head.movePointRight(2).longValueExact()
    run.add("load.rows_written", rows.toDouble)
    if (rows != t.rows || cents != t.moneyCents)
      Some(s"$table: landed $rows rows / $cents cents, generator emitted ${t.rows} / ${t.moneyCents}")
    else None
  }

  def pass(run: Run): Unit = {
    var failedCasts = 0L
    entityTables.foreach { case (entity, table) =>
      var raw: DataFrame = null
      var wh: DataFrame = null
      run.op(s"entity:$entity") {
        raw = run.layer("sources.scan") {
          run.materialize(spark.read.format("qbo")
            .option("entity", entity)
            .option("httpBaseUrl", server.baseUrl).option("realm", server.realm)
            .option("tokenUrl", server.tokenUrl).option("clientId", server.clientId)
            .option("clientSecret", server.clientSecret)
            .option("refreshToken", server.initialRefreshToken)
            .option("fetchPartitions", run.nproc.toString)
            .load())
        }
        // money fields are typed double by the declared schema, so a
        // malformed amount fails the parse loudly; ids are strings and
        // are where a cast can silently lose a value
        failedCasts += run.layer("ops.failed_casts")(Casts.failedCasts(raw, "Id", IntegerType))
        None
      }
      run.op(s"stage:$entity") {
        val staged = run.layer("qbo.stage")(run.materialize(stages(entity)(raw)))
        wh = run.layer("qbo.warehouse")(run.materialize(warehouses(entity)(staged)))
        run.add("qbo.entity_rows", gen.rowsPerEntity.toDouble)
        run.add("qbo.line_rows", gen.truth(table).rows.toDouble)
        None
      }
      run.op(s"load:$table") {
        landAndCheck(table, wh, Warehouse.fullRefresh(_, table))
      }
    }
    run.add("ops.failed_casts", failedCasts.toDouble)
    run.add("ops.planted_malformed", gen.plantedMalformed.toDouble)
    if (failedCasts != gen.plantedMalformed) {
      run.attempted += 1
      run.failed += 1
      run.failures.getOrElseUpdate("check:failed_casts",
        s"failedCasts read $failedCasts, generator planted ${gen.plantedMalformed}")
    }

    var pnl: DataFrame = null
    run.op("report:ProfitAndLoss") {
      val docs = run.layer("qbo.reports") {
        Reports.Fetch.profitAndLoss(api, gen.pnlMonths.head, gen.pnlMonths.last)
      }
      pnl = run.layer("qbo.reports") {
        run.materialize(Reports.ProfitAndLoss.warehouse(
          Reports.ProfitAndLoss.stage(Reports.ProfitAndLoss.flatten(spark, docs).toDF())))
      }
      None
    }
    run.op("load:pnl")(landAndCheck("pnl", pnl, Warehouse.appendMonth(_, "pnl")))

    var tl: DataFrame = null
    run.op("report:TransactionList") {
      tl = run.layer("qbo.reports") {
        val doc = Reports.Fetch.transactionList(api, "2021-01-01", "2023-12-31")
        run.materialize(Reports.TransactionList.warehouse(Reports.TransactionList.parse(spark, doc)))
      }
      None
    }
    run.op("load:transactionlist")(landAndCheck("transactionlist", tl,
      Warehouse.fullRefresh(_, "transactionlist")))

    var bv: DataFrame = null
    run.op("report:TransactionListByVendor") {
      bv = run.layer("qbo.reports") {
        val pages = Reports.Fetch.transactionListByVendor(api, "2021-01-01", "2023-12-31")
        run.materialize(Reports.TransactionListByVendor.warehouse(
          Reports.TransactionListByVendor.parsePages(spark, pages)))
      }
      None
    }
    run.op("load:byvendor")(landAndCheck("byvendor", bv, Warehouse.fullRefresh(_, "byvendor")))
  }

  override def passCounters(run: Run): Unit = {
    run.add("qbo.http.requests", server.requests.get.toDouble)
    run.add("qbo.http.wasted_requests", (server.pastEnd.get + server.unauthorized.get).toDouble)
    run.add("qbo.http.bytes", server.bytes.get.toDouble)
    run.add("qbo.http.token_refreshes", server.refreshes.get.toDouble)
    run.add("sources.pages", server.pagesServed.get.toDouble)
    run.add("sources.rows", server.rowsServed.get.toDouble)
    val (files, bytes) = Hygiene.dirBytes(java.nio.file.Paths.get(
      graft.queries.Common.scratchRoot, "warehouse"))
    run.add("load.files_written", files.toDouble)
    run.add("load.bytes_written", bytes.toDouble)
    if (server.badRequests.get > 0) {
      run.attempted += 1
      run.failed += 1
      run.failures.getOrElseUpdate("check:http", s"${server.badRequests.get} requests refused as malformed")
    }
    server.resetCounters()
  }

  override def close(): Unit = server.stop()
}
