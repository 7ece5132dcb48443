package qbench

import scala.collection.mutable

/** What the generator emitted for one warehouse table: the row count the
  * pipeline must land and the exact sum, in cents, of one money column.
  */
final case class TableTruth(table: String, rows: Long, moneyCol: String,
    moneyCents: Long)

/** Seeded QBO data: Query-API pages for the five entities and Reports-API
  * documents, rendered once as JSON bytes and served as-is by
  * [[LoopbackQbo]]. Amounts are whole cents, so warehouse sums are exact.
  *
  * Traps at fixed shares (the reference's semantic traps, at volume):
  * empty or missing `Line` arrays, bill payments with neither payment
  * struct, and non-numeric purchase ids (the coerce-to-0 path).
  */
final class QboGen(seed: Long, val rowsPerEntity: Int = QboGen.RowsPerEntity) {
  import QboGen._

  private val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 17)

  private def pick[A](xs: IndexedSeq[A]): A = xs(rnd.nextInt(xs.length))
  private def cents(lo: Int, hi: Int): Long = lo + rnd.nextInt(hi - lo)
  private def money(c: Long): String = f"${c / 100}.${c % 100}%02d"
  private def date(base: java.time.LocalDate, span: Int): String =
    base.plusDays(rnd.nextInt(span)).toString
  private def ref(value: String, name: String): String =
    s"""{"value": "$value", "name": "${Json.esc(name)}"}"""
  private def q(s: String): String = "\"" + Json.esc(s) + "\""

  private val base = java.time.LocalDate.of(2021, 1, 1)
  private val truths = mutable.ArrayBuffer.empty[TableTruth]
  private var malformed = 0L

  /** Line-array shape: 5% empty, 5% missing, else 1..maxLines lines. */
  private def lineCount(maxLines: Int): Int = {
    val r = rnd.nextInt(100)
    if (r < 5) 0 else if (r < 10) -1 else 1 + rnd.nextInt(maxLines)
  }

  private def lineField(n: Int, render: Int => String): String =
    if (n < 0) "" else (0 until n).map(render).mkString(""", "Line": [""", ", ", "]")

  private def expenseLine(i: Int, amount: Long): String =
    s"""{"Id": "${i + 1}", "Description": ${q(pick(Words) + " " + pick(Words))}, """ +
      s""""Amount": ${money(amount)}, "DetailType": "AccountBasedExpenseLineDetail", """ +
      s""""AccountBasedExpenseLineDetail": {"AccountRef": ${ref((10 + rnd.nextInt(80)).toString, pick(Accounts))}, """ +
      s""""BillableStatus": "${pick(Billable)}", "TaxCodeRef": {"value": "${pick(TaxCodes)}"}}}"""

  private def pages(entity: String, rows: IndexedSeq[String]): IndexedSeq[Array[Byte]] =
    rows.grouped(PageSize).zipWithIndex.map { case (page, i) =>
      (s"""{"QueryResponse": {"$entity": [""" + page.mkString(",\n") +
        s"""], "startPosition": ${i * PageSize + 1}, "maxResults": ${page.length}}, """ +
        s""""time": "2024-01-01T00:00:00.000-08:00"}""").getBytes("UTF-8")
    }.toIndexedSeq

  private def bills(): IndexedSeq[String] = {
    var sum = 0L
    val rows = (0 until rowsPerEntity).map { i =>
      val bal = cents(0, 500000)
      sum += bal
      val n = lineCount(5)
      val lines = lineField(n, k => expenseLine(k, cents(100, 200000)))
      val linked = if (rnd.nextBoolean()) s""", "LinkedTxn": [{"TxnId": "${rnd.nextInt(90000)}", "TxnType": "BillPaymentCheck"}]""" else ""
      val note = if (rnd.nextInt(3) == 0) "" else s""", "PrivateNote": ${q(pick(Words))}"""
      s"""{"Id": "${100000 + i}", "SyncToken": "${rnd.nextInt(5)}", "DocNumber": "B-$i", """ +
        s""""TxnDate": "${date(base, 1000)}", "DueDate": "${date(base, 1100)}", """ +
        s""""Balance": ${money(bal)}$note, "VendorRef": ${ref((1 + rnd.nextInt(400)).toString, pick(Vendors))}, """ +
        s""""APAccountRef": ${ref("33", "Accounts Payable")}$lines$linked}"""
    }
    truths += TableTruth("bills", rows.length, "balance", sum)
    rows
  }

  private def billPayments(): IndexedSeq[String] = {
    var sum = 0L
    val rows = (0 until rowsPerEntity).map { i =>
      val amt = cents(100, 300000)
      sum += amt
      val r = rnd.nextInt(100)
      // 10% carry neither payment struct (the fillna-to-0 path)
      val (payType, struct) =
        if (r < 45) ("Check", s""", "CheckPayment": {"BankAccountRef": ${ref((10 + rnd.nextInt(5)).toString, "Checking")}}""")
        else if (r < 90) ("CreditCard", s""", "CreditCardPayment": {"CCAccountRef": ${ref((20 + rnd.nextInt(5)).toString, "Corporate Visa")}}""")
        else ("Check", "")
      s"""{"Id": "${200000 + i}", "PayType": "$payType", "TotalAmt": ${money(amt)}, """ +
        s""""TxnDate": "${date(base, 1000)}", "DocNumber": "P-$i", """ +
        s""""VendorRef": ${ref((1 + rnd.nextInt(400)).toString, pick(Vendors))}$struct}"""
    }
    truths += TableTruth("billpayments", rows.length, "total_amt", sum)
    rows
  }

  private def journalEntries(): IndexedSeq[String] = {
    var sum = 0L
    var out = 0L
    val rows = (0 until rowsPerEntity).map { i =>
      val n = lineCount(6)
      out += math.max(1, n)
      val lines = lineField(n, k => {
        val amt = cents(100, 100000)
        sum += amt
        val entity = if (rnd.nextInt(4) == 0) "" else
          s""""Entity": {"Type": "Vendor", "EntityRef": ${ref((1 + rnd.nextInt(400)).toString, pick(Vendors))}}, """
        s"""{"Id": "$k", "Description": ${q(pick(Words))}, "Amount": ${money(amt)}, """ +
          s""""DetailType": "JournalEntryLineDetail", "JournalEntryLineDetail": {""" +
          s""""PostingType": "${if (k % 2 == 0) "Debit" else "Credit"}", $entity""" +
          s""""AccountRef": ${ref((10 + rnd.nextInt(80)).toString, pick(Accounts))}, """ +
          s""""ClassRef": ${ref((1 + rnd.nextInt(9)).toString, "Ops")}, """ +
          s""""DepartmentRef": ${ref((1 + rnd.nextInt(9)).toString, "Warehouse")}}}"""
      })
      s"""{"Id": "${300000 + i}", "Adjustment": ${rnd.nextInt(10) == 0}, "DocNumber": "JE-$i", """ +
        s""""TxnDate": "${date(base, 1000)}", "PrivateNote": ${q(pick(Words))}$lines}"""
    }
    truths += TableTruth("journalentries", out, "line_amount", sum)
    rows
  }

  private def purchases(): IndexedSeq[String] = {
    var sum = 0L
    var out = 0L
    val rows = (0 until rowsPerEntity).map { i =>
      val n = lineCount(4)
      out += math.max(1, n)
      val lines = lineField(n, k => {
        val amt = cents(100, 150000)
        sum += amt
        expenseLine(k, amt)
      })
      // 2% non-numeric ids: the pipeline coerces them to 0
      val id = if (rnd.nextInt(50) == 0) { malformed += 1; s"ABC-$i" } else (400000 + i).toString
      s"""{"Id": "$id", "PaymentType": "${pick(PayTypes)}", "Credit": ${rnd.nextInt(8) == 0}, """ +
        s""""TotalAmt": ${money(cents(100, 300000))}, "TxnDate": "${date(base, 1000)}", """ +
        s""""PrivateNote": ${q(pick(Words))}, "AccountRef": {"value": "${40 + rnd.nextInt(5)}"}, """ +
        s""""EntityRef": ${ref((1 + rnd.nextInt(400)).toString, pick(Vendors))}$lines}"""
    }
    truths += TableTruth("purchases", out, "line_amount", sum)
    rows
  }

  private def deposits(): IndexedSeq[String] = {
    var sum = 0L
    val rows = (0 until rowsPerEntity).map { i =>
      val amt = cents(100, 800000)
      sum += amt
      val n = lineCount(3)
      val lines = lineField(n, _ => s"""{"Amount": ${money(cents(100, 9000))}, "DetailType": "DepositLineDetail"}""")
      s"""{"Id": "${500000 + i}", "TotalAmt": ${money(amt)}, "TxnDate": "${date(base, 1000)}", """ +
        s""""PrivateNote": ${q(pick(Words))}, "DocNumber": "D-$i", """ +
        s""""DepositToAccountRef": ${ref((30 + rnd.nextInt(5)).toString, "Checking")}, """ +
        s""""CurrencyRef": ${ref("USD", "United States Dollar")}$lines}"""
    }
    truths += TableTruth("deposits", rows.length, "total_amt", sum)
    rows
  }

  /** Entity name -> its pages, in order. */
  val entityPages: Map[String, IndexedSeq[Array[Byte]]] = Map(
    "Bill" -> pages("Bill", bills()),
    "BillPayment" -> pages("BillPayment", billPayments()),
    "JournalEntry" -> pages("JournalEntry", journalEntries()),
    "Purchase" -> pages("Purchase", purchases()),
    "Deposit" -> pages("Deposit", deposits()))

  // ------------------------------------------------------------- reports

  /** Month -> P&L report document. Each month's tree: two sections,
    * each with account leaves and a summary row.
    */
  val pnlMonths: Seq[java.time.YearMonth] =
    Iterator.iterate(PnlFirst)(_.plusMonths(1)).take(PnlMonths).toSeq

  val pnlDocs: Map[String, Array[Byte]] = {
    var sum = 0L
    var rows = 0L
    val docs = pnlMonths.map { m =>
      val sections = Seq("Income", "Expenses").map { sec =>
        val leaves = (0 until PnlLeaves).map { k =>
          val c = cents(100, 900000)
          sum += c
          rows += 1
          s"""{"ColData": [{"value": "${Json.esc(Accounts(k % Accounts.length))} $k"}, {"value": "${money(c)}"}], "type": "Data"}"""
        }
        rows += 2 // the section header row and its summary row
        s"""{"Header": {"ColData": [{"value": "$sec"}, {"value": ""}]}, "Rows": {"Row": [""" +
          leaves.mkString(", ") +
          s"""]}, "Summary": {"ColData": [{"value": "Total $sec"}, {"value": ""}]}, "type": "Section"}"""
      }
      m.toString -> (s"""{"Header": {"StartPeriod": "${m.atDay(1)}", "EndPeriod": "${m.atEndOfMonth()}"}, """ +
        s""""Rows": {"Row": [${sections.mkString(", ")}]}}""").getBytes("UTF-8")
    }.toMap
    truths += TableTruth("pnl", rows, "total_amount", sum)
    docs
  }

  val txnListDoc: Array[Byte] = {
    var sum = 0L
    val rows = (0 until TxnListRows).map { i =>
      val c = cents(100, 400000)
      sum += c
      val cells = Seq(date(base, 1000), pick(TxnTypes), s"T-$i", "false", pick(Vendors),
        pick(Words), pick(Accounts), pick(Accounts), money(c))
      s"""{"ColData": [${cells.map(v => s"""{"value": ${q(v)}, "id": "$i"}""").mkString(", ")}]}"""
    }
    truths += TableTruth("transactionlist", rows.length, "amount", sum)
    (s"""{"Header": {"StartPeriod": "2021-01-01", "EndPeriod": "2023-12-31"}, """ +
      s""""Columns": {"Column": [${TxnListCols.map(c => s"""{"ColTitle": "$c"}""").mkString(", ")}]}, """ +
      s""""Rows": {"Row": [${rows.mkString(",\n")}]}}""").getBytes("UTF-8")
  }

  /** ByVendor report pages (1-based page index), `hasMore` on all but
    * the last. Every vendor section is one transaction group; 1 in 10
    * vendors has no transactions (kept as one row with null fields).
    */
  val byVendorPages: IndexedSeq[Array[Byte]] = {
    var sum = 0L
    var rows = 0L
    val pages = (0 until ByVendorPages).map { p =>
      val sections = (0 until PageSize).map { v =>
        val vid = p * PageSize + v + 1
        val n = if (rnd.nextInt(10) == 0) 0 else 1 + rnd.nextInt(3)
        rows += math.max(1, n)
        val txns = (0 until n).map { k =>
          val c = cents(100, 200000)
          sum += c
          val cells = Seq(date(base, 1000), "Bill", s"V-$vid-$k", "Y", pick(Words), pick(Accounts), money(c))
          s"""{"ColData": [${cells.map(x => s"""{"value": ${q(x)}}""").mkString(", ")}]}"""
        }
        s"""{"Header": {"ColData": [{"value": ${q(pick(Vendors) + " " + vid)}, "id": "$vid"}]}, """ +
          s""""Rows": {"Row": [${txns.mkString(", ")}]}}"""
      }
      val more = if (p < ByVendorPages - 1) """, "hasMore": true""" else ""
      (s"""{"Header": {"Time": "2024-01-02", "StartPeriod": "2021-01-01", "EndPeriod": "2023-12-31"}, """ +
        s""""Rows": {"Row": [${sections.mkString(",\n")}]}$more}""").getBytes("UTF-8")
    }
    truths += TableTruth("byvendor", rows, "amount", sum)
    pages
  }

  /** Non-numeric purchase ids planted: what `ops.failed_casts` must read. */
  def plantedMalformed: Long = malformed

  def truth: Map[String, TableTruth] = truths.map(t => t.table -> t).toMap

  /** Every emitted byte, in a fixed order (for the determinism self-test). */
  def digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Entities.foreach(e => entityPages(e).foreach(b => md.update(b)))
    pnlMonths.foreach(m => md.update(pnlDocs(m.toString)))
    md.update(txnListDoc)
    byVendorPages.foreach(b => md.update(b))
    md.digest().map("%02x".format(_)).mkString
  }
}

object QboGen {
  val PageSize = 100
  val RowsPerEntity = 40000
  val PnlFirst: java.time.YearMonth = java.time.YearMonth.of(2019, 1)
  val PnlMonths = 60
  val PnlLeaves = 12
  val TxnListRows = 3000
  val ByVendorPages = 8

  val Entities: Seq[String] = Seq("Bill", "BillPayment", "JournalEntry", "Purchase", "Deposit")

  private val Words = Vector("freight", "software", "rent", "office", "supplies",
    "travel", "meals", "repairs", "utilities", "insurance", "legal", "consulting",
    "shipping", "hardware", "training", "licenses", "cleaning", "security")
  private val Accounts = Vector("Freight", "Software", "Rent", "Office Expenses",
    "Travel", "Meals", "Repairs", "Utilities", "Insurance", "Legal Fees")
  private val Vendors = Vector("Acme Supply", "Beta Parts", "SaaS Co", "Delta Freight",
    "Echo Office", "Foxtrot Legal", "Gamma Repairs", "Hotel Utilities")
  private val Billable = Vector("NotBillable", "Billable", "HasBeenBilled")
  private val TaxCodes = Vector("NON", "TAX")
  private val PayTypes = Vector("Cash", "Check", "CreditCard")
  private val TxnTypes = Vector("Bill", "Check", "Deposit", "Expense", "Invoice")
  private val TxnListCols = Seq("Date", "Transaction Type", "Num", "Posting",
    "Name", "Memo/Description", "Account", "Split", "Amount")
}
