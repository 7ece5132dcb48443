package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

import Common._
import graft.ops.Flatten

/** Event-stream-shaped queries over the `events` table: JSON structuring
  * (the engine's P1 flatten on real data), sessionization, tumbling
  * windows, lag/lead. The same aggregations run under Structured
  * Streaming (graft.streaming) — these are the batch twins the oracle can
  * check.
  */
object Events {

  private val propsSchema = StructType(Seq(StructField("k", IntegerType)))

  val qs: Seq[Q] = Seq(
    Q("q64_event_bigrams",
      "sequence mining: per-user consecutive event-type bigram counts",
      Some("""WITH seq AS (SELECT user_id, event_type,
          lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS prev_type
        FROM events)
        SELECT prev_type, event_type, COUNT(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
        ORDER BY n DESC, prev_type, event_type LIMIT 20"""),
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        events(s, d)
          .select(col("user_id"), col("event_type"),
            lag(col("event_type"), 1).over(w).as("prev_type"))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("prev_type"), col("event_type"))
          .limit(20)
      }),

    Q("q68_histogram",
      "fixed-width value histogram (floor bucketing)",
      Some(s"""SELECT CAST(floor(value/25.0) AS BIGINT) AS bucket,
          COUNT(*) AS n, ${sqlDsum("value", 6)} AS sum_value
        FROM events GROUP BY bucket ORDER BY bucket"""),
      (s, d) => events(s, d)
        .groupBy(floor(col("value") / 25.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
        .orderBy("bucket")),

    Q("q65_null_audit",
      "data-quality audit: per-column null/parse-failure counts (C5)",
      Some("""SELECT COUNT(*) AS n_rows,
          COUNT(*) - COUNT(value) AS null_value,
          COUNT(*) - COUNT(props) AS null_props,
          COUNT(CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)
                IS NULL THEN 1 END) AS bad_k
        FROM events"""),
      (s, d) => events(s, d)
        .agg(count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col("value"))).as("null_value"),
          (count(lit(1)) - count(col("props"))).as("null_props"),
          count(when(get_json_object(col("props"), "$.k").try_cast("int").isNull,
            lit(1))).as("bad_k"))),

    Q("q21_json_flatten",
      "from_json + struct flatten (P1) + grouped aggregation",
      Some("""SELECT event_type, COUNT(*) AS n,
          CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
          MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
          MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
        FROM events GROUP BY event_type ORDER BY event_type"""),
      (s, d) => {
        val flat = Flatten.flatten(
          events(s, d).withColumn("props", from_json(col("props"), propsSchema)))
        flat.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("props_k")).as("sum_k"),
            min(col("props_k")).as("min_k"),
            max(col("props_k")).as("max_k"))
          .orderBy("event_type")
      }),

    Q("q22_sessionize",
      "gap-based sessionization (30 min) via lag + cumulative flag",
      Some("""WITH flagged AS (
          SELECT user_id, ts, event_id,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                 THEN 1 ELSE 0 END AS new_session
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        numbered AS (
          SELECT user_id, ts, event_id,
            CAST(SUM(new_session) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS session_id
          FROM flagged)
        SELECT user_id, session_id, COUNT(*) AS n_events,
          MIN(ts) AS session_start, MAX(ts) AS session_end
        FROM numbered GROUP BY user_id, session_id
        ORDER BY user_id, session_id"""),
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"))
          .withColumn("new_session",
            when(lag(col("ts"), 1).over(w).isNull ||
              unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) > 1800000000L,
              lit(1)).otherwise(lit(0)))
          .withColumn("session_id", sum(col("new_session")).over(wRun))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("n_events"),
            min(col("ts")).as("session_start"),
            max(col("ts")).as("session_end"))
          .orderBy("user_id", "session_id")
      }),

    Q("q72_session_window",
      "native session_window aggregation (gap-close 30 min)",
      Some("""WITH flagged AS (
          SELECT user_id, ts,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                 THEN 1 ELSE 0 END AS new_session
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        numbered AS (
          SELECT user_id, ts,
            CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS sid
          FROM flagged)
        SELECT user_id, MIN(ts) AS session_start,
          MAX(ts) + INTERVAL 30 MINUTES AS session_end, COUNT(*) AS n_events
        FROM numbered GROUP BY user_id, sid
        ORDER BY user_id, session_start"""),
      (s, d) => events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"))
        .orderBy("user_id", "session_start")),

    Q("q23_tumbling_windows",
      "epoch-aligned 1-hour tumbling window aggregation per event type",
      Some(s"""SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
          event_type, COUNT(*) AS n, ${sqlDsum("value", 4)} AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""),
      (s, d) => events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 4).as("sum_value"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("window_start", "event_type")),

    Q("q91_gapfill",
      "time-series densification: zero-filled hourly counts per event type",
      Some("""WITH bounds AS (SELECT
            time_bucket(INTERVAL '1 hour', MIN(ts)) AS lo,
            time_bucket(INTERVAL '1 hour', MAX(ts)) AS hi FROM events),
          hours AS (SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS h
            FROM bounds),
          types AS (SELECT DISTINCT event_type FROM events),
          counts AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS h,
            event_type, COUNT(*) AS n FROM events GROUP BY 1, 2)
        SELECT t.event_type, hours.h, COALESCE(c.n, CAST(0 AS BIGINT)) AS n
        FROM hours CROSS JOIN types t
        LEFT JOIN counts c ON c.h = hours.h AND c.event_type = t.event_type
        ORDER BY t.event_type, hours.h"""),
      (s, d) => {
        // Gap filling: the dense (hour × type) grid is GENERATED —
        // sequence() over the one-row global bounds, exploded, cross
        // joined with the bounded type dim — then the sparse counts
        // left-join in. The grid is hours×types rows regardless of
        // event volume, and the only full-data pass is the grouped
        // count. Missing buckets surface as explicit zeros (what
        // downstream anomaly/trend jobs need).
        val ev = events(s, d)
        val counts = ev
          .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val hours = ev
          .agg(date_trunc("hour", min(col("ts"))).as("lo"),
            date_trunc("hour", max(col("ts"))).as("hi"))
          .select(explode(sequence(col("lo"), col("hi"),
            expr("interval 1 hour"))).as("h"))
        val types = ev.select(col("event_type")).distinct()
        // both sides are tiny (distinct hours × distinct types) but
        // the hint keeps the densification grid a BroadcastNestedLoop
        // rather than a CartesianProduct at any plan shape (VERDICT
        // r10 item 7 — the one crossJoin lacking an explicit hint)
        hours.crossJoin(broadcast(types))
          .join(counts, Seq("h", "event_type"), "left")
          .select(col("event_type"), col("h"),
            coalesce(col("n"), lit(0L)).as("n"))
          .orderBy("event_type", "h")
      }),

    Q("q76_stream_drain",
      "Structured Streaming end-to-end: tumbling counts drained to parquet via foreachBatch, equal to the q23 batch result",
      Some(s"""SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
          event_type, COUNT(*) AS n, ${sqlDsum("value", 4)} AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""),
      (s, d) => {
        // The real streaming write path (not a memory sink): file-source
        // stream over the same events parquet → EventStream.tumblingCounts
        // → foreachBatch parquet drain in complete mode (each batch
        // overwrites with full state; the drain processes everything
        // and terminates). The drained table must hash-match the batch
        // q23 oracle — stream/batch equivalence as a driver-checked
        // gate, not just a spec.
        // nanosAsLong before the schema is read: the replayed schema
        // must be the shimmed one (see Common.events)
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val stream = normalizeTs(replayStream(s, d, "events"))
        val outDir = scratchDir("drain", d)
        drain(s, outDir) {
          graft.streaming.EventStream.tumblingCounts(stream)
            .writeStream
            .outputMode("complete")
            .foreachBatch {
              (batch: org.apache.spark.sql.DataFrame, _: Long) =>
                batch.write.mode("overwrite").parquet(s"$outDir/table")
            }
        }
        s.read.parquet(s"$outDir/table")
          .orderBy("window_start", "event_type")
      }),

    Q("q73_sliding_windows",
      "hopping windows (1h length, 30m slide): each event in 2 windows",
      Some(s"""WITH assigned AS (
          SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, value FROM events
          UNION ALL
          SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTES,
            value FROM events)
        SELECT ws AS window_start, COUNT(*) AS n,
          ${sqlDsum("value", 6)} AS sum_value
        FROM assigned GROUP BY ws ORDER BY window_start"""),
      (s, d) => events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"), dsum(col("value"), 6).as("sum_value"))
        .select(col("window.start").as("window_start"), col("n"), col("sum_value"))
        .orderBy("window_start")),

    Q("q24_lag_gaps",
      "lag/lead: inter-event gap statistics per user",
      Some("""WITH gaps AS (
          SELECT user_id,
            epoch_us(ts) - epoch_us(lag(ts) OVER
              (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
          FROM events)
        SELECT user_id, COUNT(gap_us) AS n_gaps,
          CAST(SUM(gap_us) AS BIGINT) AS total_gap_us,
          CAST(CAST(SUM(gap_us) AS BIGINT) AS DOUBLE)/COUNT(gap_us) AS avg_gap_us
        FROM gaps GROUP BY user_id ORDER BY user_id"""),
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        events(s, d)
          .select(col("user_id"),
            (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))).as("gap_us"))
          .groupBy(col("user_id"))
          .agg(count(col("gap_us")).as("n_gaps"),
            sum(col("gap_us")).as("total_gap_us"),
            (sum(col("gap_us")).cast("double") / count(col("gap_us"))).as("avg_gap_us"))
          .orderBy("user_id")
      }),

    Q("q133_interval_join",
      "large×large interval join via bin-overlap equi-join: clicks " +
        "landing inside each user's 30-minute error window — intervals " +
        "explode to ≤2 bins, points map to 1, shuffle is a plain " +
        "(user, bin) equi-join instead of the nested loop a range " +
        "predicate would plan; integer DIV bin math stays exact on " +
        "microsecond epochs",
      Some("""WITH err AS (
          SELECT event_id AS err_id, user_id, epoch_us(ts) AS s
          FROM events WHERE event_type = 'error'),
        clk AS (
          SELECT user_id, epoch_us(ts) AS t
          FROM events WHERE event_type = 'click')
        SELECT e.err_id, e.user_id,
          CAST((SELECT COUNT(*) FROM clk c WHERE c.user_id = e.user_id
                AND c.t >= e.s AND c.t < e.s + 1800000000) AS BIGINT)
            AS n_clicks
        FROM err e ORDER BY err_id"""),
      (s, d) => {
        val win = 1800000000L // 30 min in µs; binWidth = window length
        val ev = events(s, d).withColumn("us", unix_micros(col("ts")))
        val err = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("err_id"), col("user_id"),
            col("us").as("start_us"), (col("us") + win).as("end_us"))
        val clk = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("us").as("t_us"))
        val pairs = graft.ops.IntervalJoin.binned(
          clk, err, "t_us", "start_us", "end_us", Seq("user_id"), win)
        // keep zero-click windows: count matches, then left-join back
        val counts = pairs.groupBy(col("err_id"))
          .agg(count(lit(1)).as("n_clicks"))
        err.join(counts, Seq("err_id"), "left")
          .select(col("err_id"), col("user_id"),
            coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
          .orderBy("err_id")
      }),

    Q("q134_stream_stream_join",
      "STREAM-STREAM event-time interval join: error and click events " +
        "arrive as two independent watermarked streams; Structured " +
        "Streaming's symmetric state store matches clicks into each " +
        "user's 30-minute error window across micro-batch boundaries, " +
        "drains to parquet, and the drained verdicts must hash-match " +
        "the q133 BATCH oracle — streamed ≡ batch, the same proof " +
        "shape as q76/q102/q122/q126",
      Some("""WITH err AS (
          SELECT event_id AS err_id, user_id, epoch_us(ts) AS s
          FROM events WHERE event_type = 'error'),
        clk AS (
          SELECT user_id, epoch_us(ts) AS t
          FROM events WHERE event_type = 'click')
        SELECT e.err_id, e.user_id,
          CAST((SELECT COUNT(*) FROM clk c WHERE c.user_id = e.user_id
                AND c.t >= e.s AND c.t < e.s + 1800000000) AS BIGINT)
            AS n_clicks
        FROM err e ORDER BY err_id"""),
      (s, d) => {
        val ev = events(s, d)
        val err = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("err_id"), col("user_id"),
            col("ts").as("err_ts"))
        val clk = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("clk_ts"))
        // each side is a staged stream → both advance in genuine
        // micro-batches, so cross-batch matches exercise the join state.
        // Watermarks bound the symmetric join state; the range condition
        // gives Spark both time bounds, so click state older than
        // watermark − 30 min is evictable. The 31-day delay covers the
        // corpus's full disorder (files are keyed, not time-ordered, so
        // any tighter bound could drop genuinely-matching rows — a
        // production feed with bounded disorder tightens this to its
        // real lateness SLA and gets proportionally smaller state).
        val errS = stagedStream(err, col("err_id"), "ssj_err", d)
          .withWatermark("err_ts", "31 days")
        val clkS = stagedStream(clk, col("c_user"), "ssj_clk", d)
          .withWatermark("clk_ts", "31 days")
        val joined = errS.join(clkS,
          col("user_id") === col("c_user") &&
            expr("clk_ts >= err_ts") &&
            expr("clk_ts < err_ts + INTERVAL 30 MINUTES"))
          .select(col("err_id"), col("user_id"), col("clk_ts"))
        val outDir = scratchDir("ssj_out", d)
        // A stream-stream join commits 2 state stores per shuffle
        // partition per micro-batch; the partition count is frozen into
        // the checkpoint at first start. At this drain's volume, 32
        // partitions are pure commit overhead (measured 8.8 s → mostly
        // state-store churn), so the drain runs at DrainShuffle — a
        // production feed sizes this to its throughput ONCE, up front,
        // since it cannot change without a new checkpoint.
        drain(s, outDir) {
          joined.writeStream.format("parquet").option("path", s"$outDir/data")
        }
        val matched = s.read.schema(joined.schema).parquet(s"$outDir/data")
        val counts = matched.groupBy(col("err_id"))
          .agg(count(lit(1)).as("n_clicks"))
        err.join(counts, Seq("err_id"), "left")
          .select(col("err_id"), col("user_id"),
            coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
          .orderBy("err_id")
      }),

    Q("q136_funnel",
      "ordered funnel analysis (view → click → purchase): per user, " +
        "the first view, the first click STRICTLY AFTER that view, and " +
        "the first purchase strictly after that click — three cascaded " +
        "conditional-min aggregations, each stage's shuffle keyed on " +
        "user_id so a pre-partitioned event table pays one exchange " +
        "total; non-converting users keep nulls downstream of their " +
        "exit stage",
      Some("""WITH v AS (
          SELECT user_id,
            MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
              AS first_view
          FROM events GROUP BY user_id),
        c AS (
          SELECT e.user_id, MIN(epoch_us(e.ts)) AS first_click
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.first_view
          GROUP BY e.user_id),
        p AS (
          SELECT e.user_id, MIN(epoch_us(e.ts)) AS first_purchase
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.first_click
          GROUP BY e.user_id)
        SELECT v.user_id, v.first_view, c.first_click, p.first_purchase
        FROM v LEFT JOIN c ON v.user_id = c.user_id
               LEFT JOIN p ON v.user_id = p.user_id
        ORDER BY v.user_id"""),
      (s, d) => {
        val ev = events(s, d)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        val v = ev.groupBy(col("user_id"))
          .agg(min(when(col("event_type") === "view", col("us")))
            .as("first_view"))
        val c = ev.join(v, "user_id")
          .filter(col("event_type") === "click" &&
            col("us") > col("first_view"))
          .groupBy(col("user_id")).agg(min(col("us")).as("first_click"))
        val p = ev.join(c, "user_id")
          .filter(col("event_type") === "purchase" &&
            col("us") > col("first_click"))
          .groupBy(col("user_id")).agg(min(col("us")).as("first_purchase"))
        v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
          .orderBy("user_id")
      }),

    Q("q137_cohort_retention",
      "cohort retention matrix: users cohorted by first-active day, " +
        "activity bucketed by day offset — integer epoch-day DIV math " +
        "(engine-exact, no calendar-week ambiguity); shuffle is " +
        "(cohort, offset) groups after a per-user distinct, both keyed " +
        "small relative to raw events",
      Some("""WITH d AS (
          SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        f AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id),
        a AS (SELECT DISTINCT d.user_id, f.cohort_day,
                d.day - f.cohort_day AS day_offset
              FROM d JOIN f ON d.user_id = f.user_id)
        SELECT cohort_day, day_offset, COUNT(*) AS n_users
        FROM a GROUP BY cohort_day, day_offset
        ORDER BY cohort_day, day_offset"""),
      (s, d) => {
        val days = events(s, d)
          .select(col("user_id"),
            expr("unix_micros(ts) DIV 86400000000").as("day"))
        val cohorts = days.groupBy(col("user_id"))
          .agg(min(col("day")).as("cohort_day"))
        days.join(cohorts, "user_id")
          .select(col("user_id"), col("cohort_day"),
            (col("day") - col("cohort_day")).as("day_offset"))
          .distinct()
          .groupBy(col("cohort_day"), col("day_offset"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("cohort_day", "day_offset")
      }),

    Q("q147_concurrency_peaks",
      "peak concurrent activity per hour via a distributed sweep line: " +
        "each event becomes an interval (start ts, deterministic " +
        "60-300 s duration from its id), intervals explode to +1/-1 " +
        "boundary deltas keyed so ends sort before starts at the same " +
        "microsecond (touching intervals don't overlap), and the " +
        "global running total of deltas — graft.plans.RunningTotal, " +
        "the two-phase scan, NOT a single-task Window.orderBy — is the " +
        "concurrency profile; max per hour bucket. Within a key tie " +
        "all deltas share a sign, so the hourly MAX is tie-order " +
        "independent even though per-row totals are not. All math in " +
        "integer microseconds — engine-exact",
      Some("""WITH b AS (
          SELECT epoch_us(ts) * 2 + 1 AS k, epoch_us(ts) AS us,
            CAST(1 AS BIGINT) AS delta FROM events
          UNION ALL
          SELECT (epoch_us(ts) + (60 + event_id % 240) * 1000000) * 2 AS k,
            epoch_us(ts) + (60 + event_id % 240) * 1000000 AS us,
            CAST(-1 AS BIGINT) AS delta FROM events),
        c AS (
          SELECT us, SUM(delta) OVER (ORDER BY k
            ROWS UNBOUNDED PRECEDING) AS cw FROM b)
        SELECT us // 3600000000 AS hour_idx, CAST(MAX(cw) AS BIGINT) AS peak
        FROM c GROUP BY hour_idx ORDER BY hour_idx"""),
      (s, d) => {
        val ev = events(s, d).select(
          expr("unix_micros(ts)").as("su"),
          (expr("unix_micros(ts)") +
            (lit(60) + col("event_id") % 240) * 1000000L).as("eu"))
        val bounds = ev.select((col("su") * 2 + 1).as("k"),
            col("su").as("us"), lit(1L).as("delta"))
          .unionAll(ev.select((col("eu") * 2).as("k"),
            col("eu").as("us"), lit(-1L).as("delta")))
        graft.ops.PrefixSum.withRunningTotal(bounds, "k", "delta", "cw")
          .groupBy(expr("us div 3600000000").as("hour_idx"))
          .agg(max(col("cw")).as("peak"))
          .orderBy("hour_idx")
      })
  )
}
