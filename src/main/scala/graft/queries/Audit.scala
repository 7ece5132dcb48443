package graft.queries

import org.apache.spark.sql.functions._

import Common._
import graft.dedup.Dedup
import graft.ops.Hashing
import graft.text.TextFunctions._

/** Round-7 audit/metering wave (SURVEY §2.7 T80–T83): the operators a
  * production pipeline runs ABOUT its data and ABOUT its own
  * approximate operators — a column profiler, a rare-token novelty
  * signal, a candidate-generator quality audit (precision/recall of
  * the probabilistic LSH tier against the guaranteed tier), and an
  * epoch manifest diff.
  *
  * Emission discipline: exact integers, or integer-derived doubles
  * through single correctly-rounded IEEE ops (DeterminismGateSpec
  * holds file-wide).
  */
object Audit {

  private val sqlWords = """regexp_split_to_array(text, '\s+')"""
  private val P = Hashing.P
  private def sqlShingles(ws: String) =
    s"list_distinct(list_transform(range(1, len($ws)-1), i -> array_to_string(($ws)[i:i+2], ' ')))"

  val qs: Seq[Q] = Seq(
    Q("q168_column_profile",
      "ANALYZE-style column profiler over lineitem: per-column null " +
        "count, exact NDV, and lexicographic min/max (as strings — one " +
        "uniform long-form schema across numeric/string/date columns). " +
        "ONE wide aggregation pass: Spark plans the multi-distinct via " +
        "Expand (rows × ncols intermediates, map-side partial-agged); " +
        "no per-column scan loop, no driver-side schema reflection in " +
        "the hot path. The profile a cost-based reader would feed on",
      Some(s"""WITH c AS (SELECT * FROM (VALUES
          ('l_orderkey'), ('l_partkey'), ('l_suppkey'), ('l_linenumber'),
          ('l_quantity'), ('l_extendedprice'), ('l_discount'), ('l_tax'),
          ('l_returnflag'), ('l_linestatus'), ('l_shipdate')) v(col)),
        l AS (SELECT c.col,
            CASE c.col
              WHEN 'l_orderkey' THEN CAST(l_orderkey AS VARCHAR)
              WHEN 'l_partkey' THEN CAST(l_partkey AS VARCHAR)
              WHEN 'l_suppkey' THEN CAST(l_suppkey AS VARCHAR)
              WHEN 'l_linenumber' THEN CAST(l_linenumber AS VARCHAR)
              WHEN 'l_quantity' THEN CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
              WHEN 'l_extendedprice' THEN CAST(${graft.similarity.Vectors
                .latScalarSql("l_extendedprice", "100.0")} AS VARCHAR)
              WHEN 'l_discount' THEN CAST(${graft.similarity.Vectors
                .latScalarSql("l_discount", "100.0")} AS VARCHAR)
              WHEN 'l_tax' THEN CAST(${graft.similarity.Vectors
                .latScalarSql("l_tax", "100.0")} AS VARCHAR)
              WHEN 'l_returnflag' THEN l_returnflag
              WHEN 'l_linestatus' THEN l_linestatus
              WHEN 'l_shipdate' THEN strftime(l_shipdate, '%Y-%m-%d')
            END AS v
          FROM lineitem CROSS JOIN c)
        SELECT col, CAST(COUNT(*) FILTER (v IS NULL) AS BIGINT) AS n_nulls,
          CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
          MIN(v) AS min_s, MAX(v) AS max_s
        FROM l GROUP BY col ORDER BY col"""),
      (s, d) => {
        // value surfaces: integers/cents/dates render to strings on a
        // defined lattice so min/max are lexicographically meaningful
        // per column AND cross-engine identical (no float formatting).
        // Money columns go through latScalar (floor/ceil half-away on
        // the binary double): a plain double->long CAST truncates in
        // Spark but ROUNDS in DuckDB - the first cut's NDV differed by
        // 19 values at sf0.01 from exactly that
        val li = table(s, d, "lineitem")
        val reps: Seq[(String, org.apache.spark.sql.Column)] = Seq(
          "l_orderkey" -> col("l_orderkey").cast("string"),
          "l_partkey" -> col("l_partkey").cast("string"),
          "l_suppkey" -> col("l_suppkey").cast("string"),
          "l_linenumber" -> col("l_linenumber").cast("string"),
          "l_quantity" -> col("l_quantity").cast("long").cast("string"),
          "l_extendedprice" -> graft.similarity.Vectors
            .latScalar(col("l_extendedprice"), 100.0).cast("string"),
          "l_discount" -> graft.similarity.Vectors
            .latScalar(col("l_discount"), 100.0).cast("string"),
          "l_tax" -> graft.similarity.Vectors
            .latScalar(col("l_tax"), 100.0).cast("string"),
          "l_returnflag" -> col("l_returnflag"),
          "l_linestatus" -> col("l_linestatus"),
          "l_shipdate" -> date_format(col("l_shipdate"), "yyyy-MM-dd"))
        li.select(explode(map(reps.flatMap { case (n, c) =>
            Seq(lit(n), c) }: _*)).as(Seq("col", "v")))
          .groupBy("col")
          .agg(count(when(col("v").isNull, 1)).as("n_nulls"),
            countDistinct(col("v")).as("n_distinct"),
            min(col("v")).as("min_s"), max(col("v")).as("max_s"))
          .orderBy("col")
      }),

    Q("q169_rare_token_ratio",
      "per-doc novelty signal: fraction of token occurrences whose " +
        "corpus frequency ≤ 2 — high ratio flags hapax-heavy docs " +
        "(OCR noise, code dumps, genuinely novel text; the inverse " +
        "flags boilerplate). Corpus counts aggregate map-side; the " +
        "per-doc pass joins tokens to the count table KEYED (vocab " +
        "grows with the corpus — never broadcast); top 100 rarest",
      Some(s"""WITH u AS (SELECT doc_id, unnest($sqlWords) AS w
          FROM documents),
        uw AS (SELECT doc_id, w FROM u WHERE length(w) > 0),
        cf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uw GROUP BY w),
        per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
            CAST(COUNT(*) FILTER (cf.c <= 2) AS BIGINT) AS n_rare
          FROM uw JOIN cf USING (w) GROUP BY doc_id)
        SELECT doc_id, n_tokens, n_rare,
          CAST(n_rare AS DOUBLE) / n_tokens AS rare_ratio
        FROM per ORDER BY rare_ratio DESC, doc_id LIMIT 100"""),
      (s, d) => {
        val uw = table(s, d, "documents")
          .select(col("doc_id"), explode(words(col("text"))).as("w"))
          .filter(length(col("w")) > 0)
        val cf = uw.groupBy("w").agg(count(lit(1)).as("c"))
        uw.join(cf, "w")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            count(when(col("c") <= 2, 1)).as("n_rare"))
          .select(col("doc_id"), col("n_tokens"), col("n_rare"),
            (col("n_rare").cast("double") / col("n_tokens"))
              .as("rare_ratio"))
          .orderBy(col("rare_ratio").desc, col("doc_id")).limit(100)
      }),

    Q("q170_lsh_quality_audit",
      "candidate-generator quality metering: precision/recall of the " +
        "probabilistic MinHash-LSH tier (q34's 4×2 banding) against " +
        "exact Jaccard ≥ 0.5 ground truth — the audit that decides " +
        "whether a cheaper tier is safe to ship for a given corpus. " +
        "Truth needs NO brute force: exact Jaccard is evaluated only " +
        "on the UNION of LSH candidates and guaranteed-recall overlap " +
        "candidates (the q164 prefix-filter lemma covers Jaccard ≥ 0.5" +
        ", since J ≥ 0.5 ⟹ containment ≥ 0.5). Output: one row of " +
        "exact counts + precision/recall as integer-derived divisions",
      Some(s"""WITH w AS (SELECT doc_id, $sqlWords AS ws FROM documents),
        sh AS (SELECT doc_id, ${sqlShingles("ws")} AS sh FROM w),
        sg AS (SELECT doc_id, ${(0 until 8).map(j =>
          s"list_min(list_transform(sh, s -> (CAST('0x' || substr(md5(s),1,8) AS BIGINT) % $P * ${Hashing.HashA(j)} + ${Hashing.HashB(j)}) % $P)) AS h$j")
            .mkString(", ")} FROM sh),
        bands AS (SELECT doc_id,
          unnest([h0*$P+h1, h2*$P+h3, h4*$P+h5, h6*$P+h7]) AS bv,
          unnest([0, 1, 2, 3]) AS bi FROM sg),
        lsh AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv
            AND a.doc_id < b.doc_id),
        truth AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.sh, b.sh)) * 2 >=
            len(list_distinct(a.sh || b.sh))),
        hit AS (SELECT a_id, b_id FROM lsh INTERSECT
                SELECT a_id, b_id FROM truth)
        SELECT CAST((SELECT COUNT(*) FROM lsh) AS BIGINT) AS n_candidates,
          CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true,
          CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
          CAST((SELECT COUNT(*) FROM hit) AS DOUBLE) /
            (SELECT COUNT(*) FROM lsh) AS precision,
          CAST((SELECT COUNT(*) FROM hit) AS DOUBLE) /
            (SELECT COUNT(*) FROM truth) AS recall"""),
      (s, d) => {
        // localCheckpoint: FOUR consumers (index, probe prefix, both
        // exact-verify joins) and column pruning pushes differing
        // projections below the repartition, so plain ReuseExchange is
        // unavailable (measured: 4 corpus scans without it, 1 with) —
        // the q150 window-frame pattern
        val sh = Dedup.shingleFrame(table(s, d, "documents"),
          "doc_id", "text").localCheckpoint()
        val lsh = Dedup.lshCandidatePairsFromShingles(sh)
        // truth candidates: guaranteed-recall overlap probe (q164
        // shape) — J ≥ 0.5 implies containment ≥ 0.5, so no true pair
        // escapes; exact Jaccard then filters to the real truth set
        val hashes = sh.select(col("doc_id"),
          // one-pass hash32+sort (r17): == array_sort(transform(sh,
          // hash32)) — the HOF ran one interpreted md5 lambda/shingle
          graft.functions.Hash32Arr.sorted(s, col("sh")).as("hs"))
        val idx = hashes.select(col("doc_id").as("i_id"),
          explode(col("hs")).as("h"))
        val pre = hashes.select(col("doc_id").as("p_id"),
          explode(expr("slice(hs, 1, size(hs) div 2 + 1)")).as("h"))
        val overlapCand = pre.join(idx, "h")
          .filter(col("p_id") =!= col("i_id"))
          .select(least(col("p_id"), col("i_id")).as("a_id"),
            greatest(col("p_id"), col("i_id")).as("b_id"))
          .distinct()
        // ONE tagged pass: flag each deduped candidate with whether the
        // LSH tier proposed it, score once, and take all three counts
        // from a single aggregation — the first cut counted lsh/truth/
        // hit as three scalar branches, which re-evaluated the whole
        // verify pipeline per count (26.8 s at sf0.1 → 2.8 s)
        val allCand = lsh.withColumn("in_lsh", lit(true))
          .union(overlapCand.withColumn("in_lsh", lit(false)))
          .groupBy("a_id", "b_id").agg(max(col("in_lsh")).as("in_lsh"))
        // one-pass |A∩B|/|A∪B| (graft_inter_union, r17) — same distinct
        // counts as the array_intersect/array_union pair, two hash
        // tables per candidate instead of four (the q106 verify cure)
        val iu170 = graft.functions.InterUnion(s, col("a_sh"), col("b_sh"))
        val scored = allCand
          .join(sh.toDF("a_id", "a_sh"), "a_id")
          .join(sh.toDF("b_id", "b_sh"), "b_id")
          .withColumn("iu", iu170)
          .select(col("in_lsh"),
            (col("iu.inter") * 2 >= col("iu.uni")).as("is_true"))
        scored.agg(
            count(when(col("in_lsh"), 1)).as("n_candidates"),
            count(when(col("is_true"), 1)).as("n_true"),
            count(when(col("in_lsh") && col("is_true"), 1)).as("n_hit"))
          .select(col("n_candidates"), col("n_true"), col("n_hit"),
            (col("n_hit").cast("double") / col("n_candidates"))
              .as("precision"),
            (col("n_hit").cast("double") / col("n_true")).as("recall"))
      }),

    Q("q171_epoch_diff",
      "epoch manifest diff (data versioning audit): epoch A = even " +
        "doc_ids, epoch B = odd (the driver's stand-in for two crawl " +
        "snapshots); per source, how many content digests are " +
        "B-only (added), A-only (removed), and shared (kept) — the " +
        "summary a retraining decision reads. Digests full-outer-join " +
        "per source; text never shuffles, one digest-keyed exchange",
      Some("""WITH d AS (SELECT doc_id, source,
            md5(text) AS dg FROM documents),
        a AS (SELECT DISTINCT source, dg FROM d WHERE doc_id % 2 = 0),
        b AS (SELECT DISTINCT source, dg FROM d WHERE doc_id % 2 = 1),
        j AS (SELECT COALESCE(a.source, b.source) AS source,
            a.dg AS adg, b.dg AS bdg
          FROM a FULL OUTER JOIN b ON a.source = b.source AND a.dg = b.dg)
        SELECT source,
          CAST(COUNT(*) FILTER (adg IS NULL) AS BIGINT) AS added,
          CAST(COUNT(*) FILTER (bdg IS NULL) AS BIGINT) AS removed,
          CAST(COUNT(*) FILTER (adg IS NOT NULL AND bdg IS NOT NULL)
            AS BIGINT) AS kept
        FROM j GROUP BY source ORDER BY source"""),
      (s, d) => {
        val dd = table(s, d, "documents")
          .select(col("doc_id"), col("source"),
            md5(encode(col("text"), "UTF-8")).as("dg"))
        val a = dd.filter(col("doc_id") % 2 === 0)
          .select(col("source"), col("dg")).distinct()
          .toDF("a_source", "adg")
        val b = dd.filter(col("doc_id") % 2 === 1)
          .select(col("source"), col("dg")).distinct()
          .toDF("b_source", "bdg")
        a.join(b, col("a_source") === col("b_source") &&
            col("adg") === col("bdg"), "full_outer")
          .select(coalesce(col("a_source"), col("b_source")).as("source"),
            col("adg"), col("bdg"))
          .groupBy("source")
          .agg(count(when(col("adg").isNull, 1)).as("added"),
            count(when(col("bdg").isNull, 1)).as("removed"),
            count(when(col("adg").isNotNull && col("bdg").isNotNull, 1))
              .as("kept"))
          .orderBy("source")
      })
  )
}
