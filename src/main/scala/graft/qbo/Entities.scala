package graft.qbo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.{Casts, Lines, Names}

/** The five QBO entity pipelines (SURVEY §3 E1), each as
  * `stage` (raw entity frame → typed staged frame, the reference's
  * select → snake_case → rename → fillna → astype chain) and
  * `warehouse` (the W4 INSERT…SELECT cast layer).
  *
  * Documented deviations from the reference (SURVEY §0.1/§7):
  *  - stringified nested columns are valid JSON, not Python repr (P5);
  *  - coercing casts null-then-fill instead of raising (C1→C2 semantics);
  *  - booleans render as Spark "true"/"false" when cast to string, not
  *    pandas "True"/"False";
  *  - pandas `astype(str)` turning NaN into the literal "nan"
  *    (qb_jounalentry.py line_entity_type) is NOT replicated — absent
  *    stays null;
  *  - TO_TIMESTAMP with the wrong format pattern on date-only data
  *    (qb_billpayments.py:158) is implemented as the declared intent:
  *    parse the date, widen to midnight timestamp.
  */
object Entities {

  /** R1+R2: select dotted paths, naming results with the reference's
    * snake_case algorithm (SURVEY §2.3).
    */
  private def selectSnake(df: DataFrame, paths: Seq[String]): DataFrame =
    df.select(paths.map(p => col(p).alias(Names.snakeCase(p))): _*)

  private def castCols(df: DataFrame, types: (String, String)*): DataFrame =
    types.foldLeft(df) { case (d, (c, t)) => d.withColumn(c, col(c).cast(t)) }

  /** Money columns honor the session's `spark.graft.money` mode
    * (SURVEY §7): "double" (default, reference parity) or "decimal"
    * (DecimalType(18,2) flows stage → warehouse unchanged).
    */
  private def money(df: DataFrame): String = Casts.moneyType(df.sparkSession)

  // ---------------------------------------------------------------- Bills
  /** qb_bills.py:72-118 (stage) and :130-169 (warehouse). */
  object Bills {
    val selected: Seq[String] = Seq("DueDate", "Balance", "Id", "SyncToken",
      "DocNumber", "TxnDate", "PrivateNote", "Line", "VendorRef.value",
      "VendorRef.name", "APAccountRef.value", "APAccountRef.name", "LinkedTxn")

    /** The reference's DDL names these `ap_*` (qb_bills.py:131-145)
      * while its snake pass yields `a_p_*` (and then skips the dot pass
      * entirely, §0.1) — we patch to the declared DDL names, the same
      * move as the billpayments `c_c_`→`cc_` patch.
      */
    val renames: Map[String, String] = Map(
      "a_p_account_ref_value" -> "ap_account_ref_value",
      "a_p_account_ref_name" -> "ap_account_ref_name")

    def stage(raw: DataFrame): DataFrame =
      castCols(
        Lines.stringify(selectSnake(raw, selected).withColumnsRenamed(renames),
          "line", "linked_txn"),
        "balance" -> money(raw), "id" -> "int", "sync_token" -> "int")

    def warehouse(staged: DataFrame): DataFrame = staged.select(
      Casts.toDateYmd(col("due_date")).as("due_date"),
      col("balance"), col("id"), col("sync_token"), col("doc_number"),
      Casts.toDateYmd(col("txn_date")).as("txn_date"),
      col("private_note"), col("line"), col("vendor_ref_value"),
      col("vendor_ref_name"), col("ap_account_ref_value"),
      col("ap_account_ref_name"), col("linked_txn"))
  }

  // --------------------------------------------------------- BillPayments
  /** qb_billpayments.py:95-129 (stage) and :137-172 (warehouse). */
  object BillPayments {
    val selected: Seq[String] = Seq("PayType", "TotalAmt", "Id", "TxnDate",
      "VendorRef.value", "VendorRef.name", "CheckPayment.BankAccountRef.value",
      "CheckPayment.BankAccountRef.name", "DocNumber",
      "CreditCardPayment.CCAccountRef.value", "CreditCardPayment.CCAccountRef.name")

    /** The `c_c_` → `cc_` hand patch (qb_billpayments.py:106-107). */
    val renames: Map[String, String] = Map(
      "credit_card_payment_c_c_account_ref_value" -> "credit_card_payment_cc_account_ref_value",
      "credit_card_payment_c_c_account_ref_name" -> "credit_card_payment_cc_account_ref_name")

    def stage(raw: DataFrame): DataFrame = {
      val named = selectSnake(raw, selected).withColumnsRenamed(renames)
      val filled = named
        .withColumn("check_payment_bank_account_ref_value",
          Casts.fillThenCast(col("check_payment_bank_account_ref_value"), 0, "int"))
        .withColumn("credit_card_payment_cc_account_ref_value",
          Casts.fillThenCast(col("credit_card_payment_cc_account_ref_value"), 0, "int"))
      castCols(filled, "total_amt" -> money(raw), "id" -> "int",
        "vendor_ref_value" -> "int")
    }

    def warehouse(staged: DataFrame): DataFrame = staged.select(
      col("pay_type"), col("total_amt"), col("id"),
      Casts.toTimestampYmd(col("txn_date")).as("txn_date"),
      col("vendor_ref_value"), col("vendor_ref_name"),
      col("check_payment_bank_account_ref_value"),
      col("check_payment_bank_account_ref_name"), col("doc_number"),
      col("credit_card_payment_cc_account_ref_value"),
      col("credit_card_payment_cc_account_ref_name"))
  }

  // ------------------------------------------------------- JournalEntries
  /** qb_jounalentry.py:95-192 (stage: explode path P2-P4) and
    * :200-249 (warehouse).
    */
  object JournalEntries {
    val selected: Seq[String] =
      Seq("Adjustment", "Id", "DocNumber", "TxnDate", "Line", "PrivateNote")

    /** Reference rename targets (qb_jounalentry.py:119-134) keyed by the
      * snake_cased child path our explode emits.
      */
    val lineRenames: Map[String, String] = Map(
      "id" -> "line_id", "description" -> "line_description",
      "amount" -> "line_amount", "detail_type" -> "line_detail_type",
      "journal_entry_line_detail_posting_type" -> "line_posting_type",
      "journal_entry_line_detail_entity_type" -> "line_entity_type",
      "journal_entry_line_detail_entity_entity_ref_value" -> "line_entity_value",
      "journal_entry_line_detail_entity_entity_ref_name" -> "line_entity_name",
      "journal_entry_line_detail_account_ref_value" -> "line_account_value",
      "journal_entry_line_detail_account_ref_name" -> "line_account_name",
      "journal_entry_line_detail_class_ref_value" -> "line_class_value",
      "journal_entry_line_detail_class_ref_name" -> "line_class_name",
      "journal_entry_line_detail_department_ref_value" -> "line_department_value",
      "journal_entry_line_detail_department_ref_name" -> "line_department_name")

    val order: Seq[String] = Seq("adjustment", "id", "doc_number", "txn_date",
      "private_note", "line_id", "line_description", "line_amount",
      "line_posting_type", "line_entity_type", "line_entity_value",
      "line_entity_name", "line_account_value", "line_account_name",
      "line_class_value", "line_class_name", "line_department_value",
      "line_department_name")

    def stage(raw: DataFrame): DataFrame = {
      val exploded = Lines.explodeLines(selectSnake(raw, selected), "line", lineRenames)
        .drop("line_detail_type")
        .withColumn("line_entity_value",
          Casts.fillThenCast(col("line_entity_value"), 0, "double"))
      castCols(exploded.select(order.map(col): _*),
        "adjustment" -> "boolean", "id" -> "int", "line_id" -> "int",
        "line_amount" -> money(raw), "line_account_value" -> "double",
        "line_class_value" -> "double", "line_department_value" -> "double")
    }

    def warehouse(staged: DataFrame): DataFrame =
      staged.withColumn("txn_date", Casts.toTimestampYmd(col("txn_date")))
  }

  // ------------------------------------------------------------ Purchases
  /** qb_purchases.py:91-175 (stage) and :185-225 (warehouse; no temp
    * table leaks here, but the overwrite is NOT atomic: see
    * [[graft.load.Warehouse]]).
    */
  object Purchases {
    val selected: Seq[String] = Seq("PaymentType", "Credit", "TotalAmt", "Id",
      "TxnDate", "PrivateNote", "Line", "AccountRef.value", "EntityRef.value",
      "EntityRef.name")

    val lineRenames: Map[String, String] = Map(
      "id" -> "line_id", "description" -> "line_description",
      "amount" -> "line_amount", "detail_type" -> "line_detail_type",
      "account_based_expense_line_detail_account_ref_value" -> "line_account_value",
      "account_based_expense_line_detail_account_ref_name" -> "line_account_name",
      "account_based_expense_line_detail_billable_status" -> "line_billable_status",
      "account_based_expense_line_detail_tax_code_ref_value" -> "line_taxcode_value")

    val order: Seq[String] = Seq("payment_type", "credit", "total_amt", "id",
      "txn_date", "private_note", "account_ref_value", "entity_ref_value",
      "entity_ref_name", "line_id", "line_description", "line_amount",
      "line_account_value", "line_account_name", "line_billable_status",
      "line_taxcode_value")

    /** pd.to_numeric(coerce).fillna(0).astype('Int32')
      * (qb_purchases.py:126-130).
      */
    private def coerceInt(c: Column): Column =
      coalesce(Casts.coerce(c, "int"), lit(0))

    def stage(raw: DataFrame): DataFrame = {
      val exploded = Lines.explodeLines(selectSnake(raw, selected), "line", lineRenames)
      val coerced = Seq("id", "account_ref_value", "entity_ref_value",
        "line_id", "line_account_value")
        .foldLeft(exploded)((d, c) => d.withColumn(c, coerceInt(col(c))))
      castCols(coerced.select(order.map(col): _*),
        "credit" -> "string", "total_amt" -> money(raw), "line_amount" -> money(raw))
    }

    def warehouse(staged: DataFrame): DataFrame =
      staged.withColumn("txn_date", Casts.toDateYmd(col("txn_date")))
  }

  // ------------------------------------------------------------- Deposits
  /** qb_deposit.py:94-116 (stage) and :123-156 (warehouse). */
  object Deposits {
    val selected: Seq[String] = Seq("TotalAmt", "Id", "TxnDate", "PrivateNote",
      "Line", "DepositToAccountRef.value", "DepositToAccountRef.name",
      "CurrencyRef.value", "CurrencyRef.name", "DocNumber")

    def stage(raw: DataFrame): DataFrame =
      castCols(Lines.stringify(selectSnake(raw, selected), "line"),
        "total_amt" -> money(raw), "id" -> "int",
        "deposit_to_account_ref_value" -> "int")

    def warehouse(staged: DataFrame): DataFrame =
      staged.withColumn("txn_date", Casts.toTimestampYmd(col("txn_date")))
  }
}
