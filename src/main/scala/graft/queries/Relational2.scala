package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Common._
import graft.text.TextFunctions

/** Second wave of the relational/extension surface: outer joins, pivot,
  * cube, intersect, latest-per-key dedup, date arithmetic, exact median,
  * approximate sketches, regex tokenization, map operations, and the
  * language-ID heuristic.
  */
object Relational2 {

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  val qs: Seq[Q] = Seq(
    Q("q40_langid",
      "stopword-profile language ID (argmax with struct-max tiebreak)",
      Some(s"""WITH w AS (SELECT doc_id,
          regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents),
        scored AS (SELECT doc_id, ${TextFunctions.LangStopwords.map { case (lang, st) =>
          s"len(list_filter(ws, x -> x IN (${st.map(s => s"'$s'").mkString(", ")}))) AS s_$lang"
        }.mkString(", ")} FROM w),
        best AS (SELECT doc_id, list_aggregate([${(TextFunctions.LangStopwords.map {
          case (lang, _) => s"{'score': s_$lang, 'lang': '$lang'}"
        } :+ "{'score': 0, 'lang': 'und'}").mkString(", ")}], 'max') AS m
          FROM scored)
        SELECT m.lang AS lang_pred, COUNT(*) AS n
        FROM best GROUP BY lang_pred ORDER BY lang_pred"""),
      (s, d) => table(s, d, "documents")
        // same one-pass scorer as q177 (graft_lang_id, r17)
        .select(graft.functions.LangId(s, col("text")).as("lang_pred"))
        .groupBy("lang_pred").agg(count(lit(1)).as("n"))
        .orderBy("lang_pred")),

    Q("q41_left_join",
      "LEFT OUTER join with null-aware aggregates per customer",
      Some(s"""SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
          COALESCE(${sqlDsum("o_totalprice", 6)}, 0.0) AS revenue
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey ORDER BY c_custkey"""),
      (s, d) => table(s, d, "customer")
        .join(table(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(dsum(col("o_totalprice"), 6), lit(0.0)).as("revenue"))
        .orderBy("c_custkey")),

    Q("q42_pivot",
      "pivot event counts per user cohort (explicit value list)",
      Some(s"""SELECT user_id % 10 AS cohort, ${eventTypes.map(t =>
          s"COUNT(*) FILTER (WHERE event_type = '$t') AS $t").mkString(", ")}
        FROM events GROUP BY cohort ORDER BY cohort"""),
      (s, d) => events(s, d)
        .groupBy((col("user_id") % 10).as("cohort"))
        .pivot("event_type", eventTypes)
        .count()
        .na.fill(0L, eventTypes)
        .orderBy("cohort")),

    Q("q43_latest_per_key",
      "keep-latest-per-key dedup (window row_number desc)",
      Some("""SELECT user_id, event_id, ts, event_type FROM (
          SELECT user_id, event_id, ts, event_type, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) t
        WHERE rn = 1 ORDER BY user_id"""),
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        events(s, d)
          .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
          .orderBy("user_id")
      }),

    Q("q44_regexp_tokens",
      "regex tokenization (letter runs) + token statistics",
      Some("""SELECT doc_id,
          CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_tokens,
          CAST(len(list_distinct(regexp_extract_all(text, '[a-z]+'))) AS BIGINT)
            AS n_distinct
        FROM documents ORDER BY doc_id"""),
      (s, d) => table(s, d, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).cast("long").as("n_tokens"),
          size(array_distinct(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))))
            .cast("long").as("n_distinct"))
        .orderBy("doc_id")),

    Q("q45_map_ops",
      "JSON → MapType → explode to key/value rows",
      Some("""SELECT event_id, 'k' AS key,
          CAST(json_extract_string(props, '$.k') AS INTEGER) AS value
        FROM events ORDER BY event_id"""),
      (s, d) => events(s, d)
        .select(col("event_id"),
          explode(from_json(col("props"),
            org.apache.spark.sql.types.DataType.fromDDL("map<string,int>"))))
        .orderBy("event_id")),

    Q("q46_cube",
      "CUBE grouping sets over returnflag × linestatus",
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),
      (s, d) => table(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    Q("q47_intersect",
      "INTERSECT: nation keys present in both customer and supplier",
      Some("""SELECT c_nationkey AS nationkey FROM customer
        INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey"""),
      (s, d) => table(s, d, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(table(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")),

    Q("q48_date_arith",
      "date arithmetic: order→ship latency days per priority",
      Some("""SELECT o_orderpriority,
          CAST(SUM(date_diff('day', CAST(o_orderdate AS DATE),
            CAST(l_shipdate AS DATE))) AS BIGINT) AS total_days,
          COUNT(*) AS n,
          CAST(CAST(SUM(date_diff('day', CAST(o_orderdate AS DATE),
            CAST(l_shipdate AS DATE))) AS BIGINT) AS DOUBLE)/COUNT(*)
            AS avg_days
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      (s, d) => table(s, d, "lineitem")
        .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("l_shipdate").cast("date"),
            col("o_orderdate").cast("date")).cast("long").as("days"))
        .groupBy("o_orderpriority")
        .agg(sum(col("days")).as("total_days"), count(lit(1)).as("n"),
          (sum(col("days")).cast("double") / count(lit(1))).as("avg_days"))
        .orderBy("o_orderpriority")),

    Q("q49_median",
      "exact median (interpolating) of order value per priority",
      Some("""SELECT o_orderpriority, median(o_totalprice) AS median_price,
          COUNT(*) AS n
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      (s, d) => table(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(median(col("o_totalprice")).as("median_price"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")),

    Q("q52_sql_text",
      "SQL-text interface: temp views + spark.sql over the same tables",
      Some(s"""SELECT l_returnflag, ${sqlDsum("l_extendedprice", 6)} AS rev,
          COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      (s, d) => {
        table(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
        s.sql("""SELECT l_returnflag,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS rev,
            COUNT(*) AS n
          FROM lineitem_v GROUP BY l_returnflag ORDER BY l_returnflag""")
      }),

    Q("q53_asof_join",
      "as-of join composed from windows: latest prior click per purchase",
      Some("""WITH ev AS (SELECT user_id, event_id, ts, event_type FROM events
          WHERE event_type IN ('purchase', 'click')),
        w AS (SELECT user_id, event_id, ts, event_type,
          last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_ts
          FROM ev)
        SELECT user_id, event_id, ts, click_ts FROM w
        WHERE event_type = 'purchase' ORDER BY event_id"""),
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        events(s, d)
          .filter(col("event_type").isin("purchase", "click"))
          .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
          .withColumn("click_ts",
            last(when(col("event_type") === "click", col("ts")), ignoreNulls = true)
              .over(w))
          .filter(col("event_type") === "purchase")
          .drop("event_type")
          .orderBy("event_id")
      }),

    Q("q54_range_join",
      "non-equi range join: events bucketed by value band",
      Some(s"""SELECT lo, COUNT(*) AS n, ${sqlDsum("value", 6)} AS sum_value
        FROM events JOIN (VALUES (0.0, 50.0), (50.0, 100.0), (100.0, 150.0),
          (150.0, 1000.0)) t(lo, hi)
          ON value >= lo AND value < hi
        GROUP BY lo ORDER BY lo"""),
      (s, d) => {
        import s.implicits._
        val bands = Seq((0.0, 50.0), (50.0, 100.0), (100.0, 150.0),
          (150.0, 1000.0)).toDF("lo", "hi")
        events(s, d)
          .join(broadcast(bands),
            col("value") >= col("lo") && col("value") < col("hi"))
          .groupBy(col("lo"))
          .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
          .orderBy("lo")
      }),

    Q("q55_union_by_name",
      "by-name union with missing columns (schema evolution union)",
      Some("""SELECT name, acctbal, mktsegment FROM (
          SELECT c_name AS name, c_acctbal AS acctbal,
            c_mktsegment AS mktsegment FROM customer
          UNION ALL BY NAME
          SELECT s_name AS name, s_acctbal AS acctbal FROM supplier) t
        ORDER BY name"""),
      (s, d) => table(s, d, "customer")
        .select(col("c_name").as("name"), col("c_acctbal").as("acctbal"),
          col("c_mktsegment").as("mktsegment"))
        .unionByName(
          table(s, d, "supplier")
            .select(col("s_name").as("name"), col("s_acctbal").as("acctbal")),
          allowMissingColumns = true)
        .orderBy("name")),

    Q("q56_except_all",
      "multiset EXCEPT ALL (preserves multiplicity), folded to counts",
      Some("""SELECT o_orderpriority, COUNT(*) AS n FROM (
          SELECT o_orderpriority FROM orders
          EXCEPT ALL
          SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F') t
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      (s, d) => {
        val o = table(s, d, "orders")
        o.select("o_orderpriority")
          .exceptAll(o.filter(col("o_orderstatus") === "F")
            .select("o_orderpriority"))
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
          .orderBy("o_orderpriority")
      }),

    Q("q59_collect_sorted",
      "collect_set + deterministic sort + array_join per group",
      Some("""SELECT l_returnflag,
          array_to_string(list_sort(list_distinct(list(l_linestatus))), ',')
            AS statuses,
          COUNT(DISTINCT l_linestatus) AS n_statuses
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      (s, d) => table(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(array_join(sort_array(collect_set(col("l_linestatus"))), ",")
            .as("statuses"),
          countDistinct(col("l_linestatus")).as("n_statuses"))
        .orderBy("l_returnflag")),

    Q("q60_ntile",
      "ntile quartiles of customers by account balance",
      Some(s"""WITH t AS (SELECT c_custkey, c_acctbal,
          ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile
        FROM customer)
        SELECT quartile, COUNT(*) AS n, ${sqlDsum("c_acctbal", 4)} AS total_bal,
          MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi
        FROM t GROUP BY quartile ORDER BY quartile"""),
      (s, d) => {
        val w = Window.orderBy(col("c_acctbal"), col("c_custkey"))
        table(s, d, "customer")
          .select(col("c_custkey"), col("c_acctbal"),
            ntile(4).over(w).as("quartile"))
          .groupBy(col("quartile"))
          .agg(count(lit(1)).as("n"), dsum(col("c_acctbal"), 4).as("total_bal"),
            min(col("c_acctbal")).as("lo"), max(col("c_acctbal")).as("hi"))
          .orderBy("quartile")
      }),

    Q("q61_topk_heap_op",
      "custom LogicalPlan/SparkPlan: per-group top-k via bounded heaps " +
        "(same oracle as q07, no per-partition sort)",
      Some("""SELECT * FROM (
          SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
            ROW_NUMBER() OVER (PARTITION BY l_suppkey
              ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
          FROM lineitem) t
        WHERE rn <= 3 ORDER BY l_suppkey, rn"""),
      (s, d) => {
        val top = graft.plans.TopK.perGroup(
          table(s, d, "lineitem")
            .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice"),
          Seq("l_suppkey"),
          Seq(("l_extendedprice", false), ("l_orderkey", true), ("l_linenumber", true)),
          k = 3)
        // rank the k×groups survivors (tiny) for the declared output shape
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        top.withColumn("rn", row_number().over(w)).orderBy("l_suppkey", "rn")
      }),

    Q("q66_grouping_sets",
      "explicit GROUPING SETS via SQL text (beyond rollup/cube)",
      Some("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),
      (s, d) => {
        table(s, d, "lineitem").createOrReplaceTempView("lineitem_gs")
        s.sql("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n
          FROM lineitem_gs
          GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
      }),

    Q("q50_approx_distinct",
      "HLL sketch: approx_count_distinct within 5% of exact (full oracle)",
      Some("""SELECT l_returnflag,
          COUNT(DISTINCT l_partkey) AS exact_parts,
          COUNT(DISTINCT l_orderkey) AS exact_orders,
          TRUE AS parts_ok, TRUE AS orders_ok
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      (s, d) => {
        // The sketch values themselves are engine-specific, so the
        // oracle checks the exact counts plus a relative-error bound on
        // the sketch: if HLL drifts past 5% the flag flips false and the
        // row hash mismatches (making the sketch fully driver-checkable).
        def ok(approx: org.apache.spark.sql.Column,
               exact: org.apache.spark.sql.Column) =
          abs(approx.cast("double") - exact) / exact <= 0.05
        table(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            approx_count_distinct(col("l_partkey")).as("approx_parts"),
            approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"),
            countDistinct(col("l_partkey")).as("exact_parts"),
            countDistinct(col("l_orderkey")).as("exact_orders"))
          .select(col("l_returnflag"), col("exact_parts"), col("exact_orders"),
            ok(col("approx_parts"), col("exact_parts")).as("parts_ok"),
            ok(col("approx_orders"), col("exact_orders")).as("orders_ok"))
          .orderBy("l_returnflag")
      })
  )
}
