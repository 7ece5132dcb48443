package graft.qbo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

import graft.sources.{QboPagePartition, QboTable}

/** QBO entity-query source (SURVEY §2.1 S2-S4).
  *
  * The reference POSTs `SELECT * FROM <Entity>` to `/query` and loops
  * `STARTPOSITION` in pages of 100 (qb_billpayments.py:63-79). We model
  * a page as one `QueryResponse` envelope JSON; the fetch loop lives in
  * [[fetchAll]] behind the [[QboApi]] trait (so a live HTTP client can
  * plug in, and tests use a fake), and the structuring lives in
  * [[entityFrame]] — one declared-schema parse per page, no inference
  * pass.
  *
  * Scale note: with a real paginated API the pages become input
  * partitions (each executor task fetches its own page range — the
  * `qbo` source's strided fan-out); here the page envelopes are
  * already held, one input partition each.
  */
trait QboApi {
  /** One page of entity-query results, 1-based start position. */
  def queryPage(entity: String, startPosition: Int): String
}

/** Reports-API face (SURVEY §2.1 S5-S7): one GET per report request,
  * `params` as query-string pairs (`start_date`/`end_date` always;
  * ByVendor adds `start_position`/`max_results`/`columns`). Fixture
  * backends and [[QboHttpApi]] implement it identically, so the parse
  * layer ([[Reports]]) never knows which transport fed it.
  */
trait QboReportsApi {
  def report(name: String, params: Seq[(String, String)]): String
}

object QboSource {

  val PageSize = 100

  /** S3/S4 pagination loop. Uses the length-based stop predicate
    * (`len(page) == 100`, qb_purchases.py:77) — the robust variant; the
    * `maxResults == 100` form (qb_billpayments.py:79) breaks when the
    * API omits maxResults (SURVEY §0.1). Also fixes qb_bills.py:55,
    * which never paginates at all.
    */
  def fetchAll(api: QboApi, entity: String, schema: StructType,
      spark: SparkSession): DataFrame = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    var pos = 1
    var more = true
    while (more) {
      val page = api.queryPage(entity, pos)
      val n = countRows(page, entity)
      buf += page
      pos += n
      more = n == PageSize
    }
    entityFrame(spark, entity, buf.toSeq, schema)
  }

  /** Cheap driver-side row count of a page (stop predicate only). */
  private def countRows(pageJson: String, entity: String): Int = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = mapper.readTree(pageJson).path("QueryResponse").path(entity)
    if (arr.isArray) arr.size() else 0
  }

  /** The one declared shape of an entity-query page:
    * `struct<QueryResponse: struct<<entity>: array<schema>>>`. The `qbo`
    * DSv2 reader parses every page against it once, whatever fed the
    * page: fixtures, registry feeds, HTTP or [[fetchAll]].
    */
  def envelope(entity: String, schema: StructType): StructType =
    StructType(Seq(StructField("QueryResponse",
      StructType(Seq(StructField(entity, ArrayType(schema)))))))

  /** Page envelopes → one entity row per element (union of pages = the
    * reference's `all_data.extend(page)`, SURVEY §2.6 set-op analog),
    * through the `qbo` DSv2 scan with one partition per page — so
    * column pruning and `TxnDate` pushdown apply here as well.
    *
    * Schema-drift policy (the dynamic layer-1 schema of SURVEY §1,
    * declared here and pinned by QboSourceSpec):
    *  - UNKNOWN fields on a live page are ignored — the declared
    *    selection schema (layer 2) is the contract, and the reference's
    *    own `df[selected_columns]` projection would drop them anyway;
    *  - a DROPPED declared field parses as null and flows through the
    *    cast layer's null handling (fillna / try_cast), same as an
    *    absent optional struct;
    *  - a MALFORMED page (invalid JSON, or type drift that defeats the
    *    declared-schema parse) is a LOUD error inside the scan, never a
    *    silently-empty page or a silently-nulled field: a null envelope
    *    would read as zero rows and truncate the load invisibly (the
    *    worst failure mode for a full-refresh pipeline: TRUNCATE +
    *    partial reload).
    */
  def entityFrame(spark: SparkSession, entity: String, pages: Seq[String],
      schema: StructType): DataFrame =
    Bridge.ofRows(spark, DataSourceV2Relation.create(
      new QboTable(schema, entity,
        pages.map(p => QboPagePartition(p.getBytes("UTF-8")))), None, None))
}
