package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Common._
import graft.dedup.Dedup
import graft.ops.Hashing
import graft.text.TextFunctions._

/** Text-analysis + deduplication query surface over `documents`
  * (the LLM-training-data operators: token stats, quality scoring,
  * fingerprinting, exact dedup, n-gram Jaccard, MinHash+LSH, SimHash).
  *
  * Oracle notes: every hash is the md5-derived [[Hashing]] family so the
  * DuckDB SQL reproduces values exactly; folds use
  * list_reduce(list_prepend(init, ...)) to mirror Spark's sequential
  * `aggregate`.
  */
object TextOps {

  private val P = Hashing.P

  /** DuckDB twin of TextFunctions.words. */
  private val sqlWords = """regexp_split_to_array(text, '\s+')"""

  /** DuckDB twin of TextFunctions.shingleSet (distinct 3-word shingles). */
  private def sqlShingles(ws: String) =
    s"list_distinct(list_transform(range(1, len($ws)-1), i -> array_to_string(($ws)[i:i+2], ' ')))"

  /** DuckDB twin of Dedup.minhash for family member j. */
  private def sqlMinhash(sh: String, j: Int) =
    s"list_min(list_transform($sh, s -> (CAST('0x' || substr(md5(s),1,8) AS BIGINT) % $P * ${Hashing.HashA(j)} + ${Hashing.HashB(j)}) % $P))"

  private val sigSql =
    s"""WITH w AS (SELECT doc_id, $sqlWords AS ws FROM documents),
        sh AS (SELECT doc_id, ${sqlShingles("ws")} AS sh FROM w),
        sig AS (SELECT doc_id,
          ${(0 until 8).map(j => s"${sqlMinhash("sh", j)} AS h$j").mkString(", ")}
          FROM sh)"""

  val qs: Seq[Q] = Seq(
    Q("q25_token_stats",
      "tokenization: token / distinct-token counts per document",
      Some("""WITH w AS (SELECT doc_id, n_chars, regexp_split_to_array(text, '\s+') AS ws
          FROM documents)
        SELECT doc_id, n_chars, len(ws) AS n_tokens,
          len(list_distinct(ws)) AS n_distinct
        FROM w ORDER BY doc_id"""),
      (s, d) => table(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          size(words(col("text"))).cast("long").as("n_tokens"),
          size(array_distinct(words(col("text")))).cast("long").as("n_distinct"))
        .orderBy("doc_id")),

    Q("q74_posexplode",
      "positional explode: (doc, position, token) rows",
      Some("""SELECT doc_id, unnest(range(len(ws))) AS pos, unnest(ws) AS word
        FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws
              FROM documents WHERE doc_id % 50 = 0) t
        ORDER BY doc_id, pos"""),
      (s, d) => table(s, d, "documents")
        .filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), posexplode(words(col("text"))))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("word"))
        .orderBy("doc_id", "pos")),

    Q("q75_first_last_tokens",
      "array element access incl. negative indexing",
      Some("""SELECT doc_id, ws[1] AS first_tok, ws[-1] AS last_tok,
          len(ws) AS n_tokens
        FROM (SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws
              FROM documents) t
        ORDER BY doc_id"""),
      (s, d) => {
        val ws = words(col("text"))
        table(s, d, "documents")
          .select(col("doc_id"),
            element_at(ws, 1).as("first_tok"),
            element_at(ws, -1).as("last_tok"),
            size(ws).cast("long").as("n_tokens"))
          .orderBy("doc_id")
      }),

    Q("q26_word_freq",
      "explode + global top-50 word frequencies",
      Some("""SELECT word, COUNT(*) AS n
        FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS word
              FROM documents) t
        GROUP BY word ORDER BY n DESC, word LIMIT 50"""),
      (s, d) => table(s, d, "documents")
        .select(explode(words(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(50)),

    Q("q27_quality_score",
      "document quality signals: stopword ratio, mean token length",
      Some("""WITH w AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws
          FROM documents)
        SELECT doc_id, len(ws) AS n_tokens,
          CAST(len(list_filter(ws, x -> x IN ('the', 'a'))) AS DOUBLE)/len(ws)
            AS stop_ratio,
          CAST(CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT)
            AS DOUBLE)/len(ws) AS avg_word_len,
          (len(ws) < 30) AS low_quality
        FROM w ORDER BY doc_id"""),
      (s, d) => {
        val ws = words(col("text"))
        table(s, d, "documents")
          .select(col("doc_id"),
            size(ws).cast("long").as("n_tokens"),
            stopwordRatio(ws, Seq("the", "a")).as("stop_ratio"),
            avgWordLen(ws).as("avg_word_len"),
            (size(ws).cast("long") < 30).as("low_quality"))
          .orderBy("doc_id")
      }),

    Q("q28_lang_stats",
      "per-language corpus statistics",
      Some("""SELECT lang, COUNT(*) AS n,
          CAST(SUM(n_chars) AS BIGINT) AS total_chars,
          CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE)/COUNT(*) AS avg_chars
        FROM documents GROUP BY lang ORDER BY lang"""),
      (s, d) => table(s, d, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).as("total_chars"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
        .orderBy("lang")),

    Q("q29_fingerprint",
      "rolling polynomial document fingerprint (order-sensitive hash)",
      Some(s"""SELECT doc_id,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(1, length(text)+1),
              i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
            (a, b) -> (a*31 + b) % $P) AS fp
        FROM documents ORDER BY doc_id"""),
      (s, d) => table(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.Fingerprint(s, col("text")).as("fp"))
        .orderBy("doc_id")),

    Q("q69_normalize",
      "text normalization: trim + whitespace collapse + digest",
      Some("""SELECT doc_id,
          md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS norm_digest,
          length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS norm_len
        FROM documents ORDER BY doc_id"""),
      (s, d) => {
        val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
        table(s, d, "documents")
          .select(col("doc_id"),
            md5(encode(norm, "UTF-8")).as("norm_digest"),
            length(norm).cast("long").as("norm_len"))
          .orderBy("doc_id")
      }),

    Q("q30_dedup_exact",
      "exact dedup groups: md5 digest → keeper id + multiplicity",
      Some("""SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n
        FROM documents GROUP BY h ORDER BY h"""),
      (s, d) => Dedup.exactGroups(table(s, d, "documents"), "doc_id", "text")
        .orderBy("h")),

    Q("q31_shingle_stats",
      "3-word shingle sets per document (n-gram dedup unit)",
      Some(s"""WITH w AS (SELECT doc_id, $sqlWords AS ws FROM documents)
        SELECT doc_id, len(ws) AS n_tokens,
          len(${sqlShingles("ws")}) AS n_shingles
        FROM w ORDER BY doc_id"""),
      (s, d) => {
        val ws = words(col("text"))
        table(s, d, "documents")
          .select(col("doc_id"),
            size(ws).cast("long").as("n_tokens"),
            size(array_distinct(wordShingles(ws, 3))).cast("long").as("n_shingles"))
          .orderBy("doc_id")
      }),

    Q("q32_jaccard_pairs",
      "exact n-gram Jaccard scored over MinHash-LSH candidates, top-20",
      Some(s"""$sigSql,
        bands AS (SELECT doc_id,
          unnest([h0*$P+h1, h2*$P+h3, h4*$P+h5, h6*$P+h7]) AS bv,
          unnest([0, 1, 2, 3]) AS bi FROM sig),
        pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv
            AND a.doc_id < b.doc_id)
        SELECT p.a_id, p.b_id,
          CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
            len(list_distinct(sa.sh || sb.sh)) AS jacc
        FROM pairs p JOIN sh sa ON sa.doc_id = p.a_id
          JOIN sh sb ON sb.doc_id = p.b_id
        ORDER BY jacc DESC, a_id, b_id LIMIT 20"""),
      (s, d) => {
        // Candidate-gated exact scoring — the production near-dup shape:
        // LSH banding proposes candidates (shuffles only (id, band)
        // keys), then the exact Jaccard runs on candidates alone. No
        // a_id < b_id cross join anywhere; the full corpus works, no
        // sampling needed. The whole query reads ONE shared shingle
        // frame: banding and both scoring joins consume the same
        // repartition exchange (ReuseExchange), so the corpus is
        // scanned and shingled exactly once.
        val sh = Dedup.shingleFrame(table(s, d, "documents"), "doc_id", "text")
        val cand = Dedup.lshCandidatePairsFromShingles(sh)
        cand
          .join(sh.toDF("a_id", "a_sh"), "a_id")
          .join(sh.toDF("b_id", "b_sh"), "b_id")
          .select(col("a_id"), col("b_id"),
            graft.functions.Jaccard(s, col("a_sh"), col("b_sh")).as("jacc"))
          .orderBy(col("jacc").desc, col("a_id"), col("b_id"))
          .limit(20)
      }),

    Q("q33_minhash_signatures",
      "8-hash MinHash signature per document",
      Some(s"""$sigSql SELECT * FROM sig ORDER BY doc_id"""),
      (s, d) => Dedup.signatureFrame(table(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    Q("q34_minhash_lsh_pairs",
      "MinHash-LSH candidate pairs (4 bands × 2 rows) — the scale path",
      Some(s"""$sigSql,
        bands AS (SELECT doc_id,
          unnest([h0*$P+h1, h2*$P+h3, h4*$P+h5, h6*$P+h7]) AS bv,
          unnest([0, 1, 2, 3]) AS bi FROM sig)
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv
          AND a.doc_id < b.doc_id
        GROUP BY a_id, b_id ORDER BY a_id, b_id"""),
      (s, d) => Dedup.lshCandidatePairs(table(s, d, "documents"), "doc_id", "text")
        .orderBy("a_id", "b_id")),

    Q("q108_capped_lsh_pairs",
      "MinHash-LSH candidates under the maxBucket skew guard — the " +
        "production mitigation for heavy-tailed band buckets, " +
        "hash-checked against an oracle that models the cap exactly",
      Some(s"""$sigSql,
        bands AS (SELECT doc_id,
          unnest([h0*$P+h1, h2*$P+h3, h4*$P+h5, h6*$P+h7]) AS bv,
          unnest([0, 1, 2, 3]) AS bi FROM sig),
        keep AS (SELECT bi, bv FROM bands GROUP BY bi, bv
          HAVING COUNT(*) <= 2),
        kb AS (SELECT b.doc_id, b.bi, b.bv FROM bands b
          JOIN keep k ON b.bi = k.bi AND b.bv = k.bv)
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM kb a JOIN kb b ON a.bi = b.bi AND a.bv = b.bv
          AND a.doc_id < b.doc_id
        GROUP BY a_id, b_id ORDER BY a_id, b_id"""),
      (s, d) => {
        // Same banding as q34 but buckets holding > maxBucket docs are
        // dropped before the self-join (a hot band bucket contributes
        // O(size²) pairs while discriminating nothing — a 100× replica
        // run measured −49% pairs / −40% wall with the guard on).
        // The capped recall is DECLARED semantics here, so the
        // mitigation itself is oracle-hash-checked, not just probed:
        // maxBucket = 2 genuinely binds at sf0.01 (the corpus has
        // size-3 buckets whose pairs must vanish from the result).
        Dedup.lshCandidatePairs(table(s, d, "documents"), "doc_id", "text",
            maxBucket = 2)
          .orderBy("a_id", "b_id")
      }),

    Q("q138_sql_text_dedup",
      "the LSH candidate pipeline driven ENTIRELY from SQL text: a " +
        "user who only speaks SQL composes graft_minhash_bands over a " +
        "temp view, explodes the band values, and self-joins — same " +
        "oracle as q34, proving the registered custom expressions give " +
        "SQL-text users the full dedup path, not just the Scala API",
      Some(s"""$sigSql,
        bands AS (SELECT doc_id,
          unnest([h0*$P+h1, h2*$P+h3, h4*$P+h5, h6*$P+h7]) AS bv,
          unnest([0, 1, 2, 3]) AS bi FROM sig)
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv
          AND a.doc_id < b.doc_id
        GROUP BY a_id, b_id ORDER BY a_id, b_id"""),
      (s, d) => {
        table(s, d, "documents").createOrReplaceTempView("docs_sql_v")
        s.sql("""
          WITH bands AS (
            SELECT doc_id,
              posexplode(graft_minhash_bands(graft_shingles(text)))
                AS (bi, bv)
            FROM docs_sql_v)
          SELECT a.doc_id AS a_id, b.doc_id AS b_id
          FROM bands a JOIN bands b
            ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
          GROUP BY a_id, b_id ORDER BY a_id, b_id""")
      }),

    Q("q67_dup_clusters",
      "transitive dup clusters over LSH pairs (iterative connected components)",
      Some(s"""WITH RECURSIVE
        w AS (SELECT doc_id, $sqlWords AS ws FROM documents),
        sh2 AS (SELECT doc_id, ${sqlShingles("ws")} AS sh FROM w),
        sig2 AS (SELECT doc_id,
          ${(0 until 8).map(j => s"${sqlMinhash("sh", j)} AS h$j").mkString(", ")}
          FROM sh2),
        bands AS (SELECT doc_id,
          unnest([h0*$P+h1, h2*$P+h3, h4*$P+h5, h6*$P+h7]) AS bv,
          unnest([0, 1, 2, 3]) AS bi FROM sig2),
        pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv
            AND a.doc_id < b.doc_id),
        edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
          UNION SELECT b_id, a_id FROM pairs),
        reach(src, dst) AS (
          SELECT src, src FROM (SELECT DISTINCT src FROM edges) t
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        SELECT src AS doc_id, MIN(dst) AS cluster_id
        FROM reach GROUP BY src ORDER BY doc_id"""),
      (s, d) => Dedup.dupClusters(
        Dedup.lshCandidatePairs(table(s, d, "documents"), "doc_id", "text"))
        .orderBy("doc_id")),

    Q("q109_incremental_clusters",
      "incremental cluster maintenance: batch-2 LSH pairs merged into " +
        "batch-1's star forest without recomputing settled clusters — " +
        "the oracle is the FROM-SCRATCH clustering over all pairs, so " +
        "the hash match proves incremental ≡ recompute",
      Some(s"""WITH RECURSIVE
        w AS (SELECT doc_id, $sqlWords AS ws FROM documents),
        sh2 AS (SELECT doc_id, ${sqlShingles("ws")} AS sh FROM w),
        sig2 AS (SELECT doc_id,
          ${(0 until 8).map(j => s"${sqlMinhash("sh", j)} AS h$j").mkString(", ")}
          FROM sh2),
        bands AS (SELECT doc_id,
          unnest([h0*$P+h1, h2*$P+h3, h4*$P+h5, h6*$P+h7]) AS bv,
          unnest([0, 1, 2, 3]) AS bi FROM sig2),
        pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv
            AND a.doc_id < b.doc_id),
        edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
          UNION SELECT b_id, a_id FROM pairs),
        reach(src, dst) AS (
          SELECT src, src FROM (SELECT DISTINCT src FROM edges) t
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
        SELECT src AS doc_id, MIN(dst) AS cluster_id
        FROM reach GROUP BY src ORDER BY doc_id"""),
      (s, d) => {
        // Deterministic two-batch split of the candidate stream (edge
        // parity), modeling day-1 corpus + day-2 ingest. The pair
        // pipeline is checkpointed once; both batch filters read the
        // same materialization. Batch 2 then merges into batch 1's
        // labels through the touched-cluster path only — the oracle
        // recomputes everything from scratch, so equality is the
        // correctness proof the incremental shortcut must pass.
        val pairs = Dedup.lshCandidatePairs(
            table(s, d, "documents"), "doc_id", "text")
          .localCheckpoint(eager = false)
        val batch1 = pairs.filter((col("a_id") + col("b_id")) % 2 === 0)
        val batch2 = pairs.filter((col("a_id") + col("b_id")) % 2 === 1)
        Dedup.incrementalClusters(Dedup.dupClusters(batch1), batch2)
          .orderBy("doc_id")
      }),

    Q("q87_near_dup_clean",
      "flagship near-dup removal: LSH candidates → exact Jaccard ≥ 0.8 " +
        "edges → components → keep cluster minimum, count kept per lang",
      Some(s"""WITH RECURSIVE
        w AS (SELECT doc_id, $sqlWords AS ws FROM documents),
        sh AS (SELECT doc_id, ${sqlShingles("ws")} AS sh FROM w),
        sig AS (SELECT doc_id,
          ${(0 until 8).map(j => s"${sqlMinhash("sh", j)} AS h$j").mkString(", ")}
          FROM sh),
        bands AS (SELECT doc_id,
          unnest([h0*$P+h1, h2*$P+h3, h4*$P+h5, h6*$P+h7]) AS bv,
          unnest([0, 1, 2, 3]) AS bi FROM sig),
        pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv
            AND a.doc_id < b.doc_id),
        scored AS (SELECT p.a_id, p.b_id FROM pairs p
          JOIN sh sa ON sa.doc_id = p.a_id
          JOIN sh sb ON sb.doc_id = p.b_id
          WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
            len(list_distinct(sa.sh || sb.sh)) >= 0.8),
        edges AS (SELECT a_id AS src, b_id AS dst FROM scored
          UNION SELECT b_id, a_id FROM scored),
        reach(src, dst) AS (
          SELECT src, src FROM (SELECT DISTINCT src FROM edges) t
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        removed AS (SELECT src FROM reach GROUP BY src HAVING MIN(dst) < src)
        SELECT lang, COUNT(*) AS n_kept FROM documents
        WHERE doc_id NOT IN (SELECT src FROM removed)
        GROUP BY lang ORDER BY lang"""),
      (s, d) => {
        // The full production near-dup cleaning pipeline, composed
        // entirely from verified operators: single-scan shingle frame →
        // banded candidates → exact Jaccard gate at 0.8 → star-contraction
        // connected components → drop everything but each cluster's
        // minimum id. Scale: only (id, band) keys and candidate pairs
        // shuffle; the anti-join keys are ids.
        val docs = table(s, d, "documents")
        val sh = Dedup.shingleFrame(docs, "doc_id", "text")
        val edges = Dedup.lshCandidatePairsFromShingles(sh)
          .join(sh.toDF("a_id", "a_sh"), "a_id")
          .join(sh.toDF("b_id", "b_sh"), "b_id")
          .filter(graft.functions.Jaccard(s, col("a_sh"), col("b_sh")) >= 0.8)
          .select("a_id", "b_id")
        val removed = Dedup.dupClusters(edges)
          .filter(col("cluster_id") =!= col("doc_id"))
          .select("doc_id")
        docs.join(removed, Seq("doc_id"), "left_anti")
          .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
          .orderBy("lang")
      }),

    Q("q88_stream_ingest_dedup",
      "Structured Streaming ingest dedup: stream-static digest join " +
        "drained to parquet, equal to the batch semantics",
      Some("""SELECT b.doc_id,
          EXISTS (SELECT 1 FROM documents s
            WHERE s.doc_id % 10 <> 0 AND md5(s.text) = md5(b.text)) AS is_exact
        FROM documents b WHERE b.doc_id % 10 = 0 ORDER BY b.doc_id"""),
      (s, d) => {
        // The streaming half of q83: new documents arrive as a stream
        // and are exact-dedup-checked against the static corpus digest
        // store with a stateless stream-static left join (no watermark,
        // no state store — the static side is the lookup). foreachBatch
        // appends each micro-batch to parquet; the drain terminates
        // after the backlog. Driver-checked against the batch oracle =
        // stream/batch equivalence as a correctness gate.
        val raw = table(s, d, "documents")
        val stream = replayStream(s, d, "documents")
          .filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), Dedup.digest(col("text")).as("h"))
        val store = raw.filter(col("doc_id") % 10 =!= 0)
          .select(Dedup.digest(col("text")).as("h")).distinct()
          .withColumn("hit", lit(true))
        val joined = stream.join(store, Seq("h"), "left")
          .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("is_exact"))
        val outDir = scratchDir("sdedup", d)
        drain(s, outDir) {
          joined.writeStream
            .outputMode("append")
            .foreachBatch {
              (batch: org.apache.spark.sql.DataFrame, _: Long) =>
                batch.write.mode("append").parquet(s"$outDir/table")
            }
        }
        s.read.parquet(s"$outDir/table").orderBy("doc_id")
      }),

    Q("q83_incremental_dedup",
      "incremental ingest: dedup a new batch against the existing corpus",
      Some {
        def side(src: String, p: String) =
          s"""${p}w AS (SELECT doc_id, $sqlWords AS ws FROM $src),
            ${p}sh AS (SELECT doc_id, ${sqlShingles("ws")} AS sh FROM ${p}w),
            ${p}sig AS (SELECT doc_id,
              ${(0 until 8).map(j => s"${sqlMinhash("sh", j)} AS h$j").mkString(", ")}
              FROM ${p}sh),
            ${p}bands AS (SELECT doc_id,
              unnest([h0*$P+h1, h2*$P+h3, h4*$P+h5, h6*$P+h7]) AS bv,
              unnest([0, 1, 2, 3]) AS bi FROM ${p}sig)"""
        s"""WITH batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
          store AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
          ${side("batch", "b")},
          ${side("store", "s")},
          cand AS (SELECT bb.doc_id, COUNT(DISTINCT sb.doc_id) AS n_near
            FROM bbands bb JOIN sbands sb ON bb.bi = sb.bi AND bb.bv = sb.bv
            GROUP BY bb.doc_id),
          ex AS (SELECT DISTINCT b.doc_id FROM batch b
            JOIN store s ON md5(b.text) = md5(s.text))
          SELECT b.doc_id,
            (e.doc_id IS NOT NULL) AS is_exact,
            COALESCE(c.n_near, CAST(0 AS BIGINT)) AS n_near,
            CASE WHEN e.doc_id IS NOT NULL THEN 'exact'
                 WHEN COALESCE(c.n_near, 0) > 0 THEN 'near'
                 ELSE 'new' END AS status
          FROM batch b LEFT JOIN ex e USING (doc_id)
            LEFT JOIN cand c USING (doc_id)
          ORDER BY b.doc_id"""
      },
      (s, d) => {
        // The production ingest shape: a new batch (here the doc_id%10
        // slice, deterministic at every SF) is deduped against the
        // existing corpus — exact via a digest semi-join (16-byte keys
        // shuffle, never document bytes), near via a band equi-join
        // against what in production is the PERSISTED signature/band
        // store (bucketed by band key, so only the batch side computes
        // signatures and only matching buckets are touched). AQE
        // broadcasts the batch bands when the batch is small — exactly
        // the plan a 100 TB store wants.
        val docs = table(s, d, "documents")
        val batch = docs.filter(col("doc_id") % 10 === 0)
        val store = docs.filter(col("doc_id") % 10 =!= 0)
        def bands(df: org.apache.spark.sql.DataFrame, idAs: String) =
          Dedup.signatureFrame(df, "doc_id", "text")
            .select(col("doc_id"),
              posexplode(array(Dedup.bandValues(
                (0 until 8).map(j => col(s"h$j"))): _*)))
            .toDF(idAs, "bi", "bv")
        val cand = bands(batch, "b_id")
          .join(bands(store, "s_id"), Seq("bi", "bv"))
          .groupBy(col("b_id"))
          .agg(countDistinct(col("s_id")).as("n_near"))
        val ex = batch
          .select(col("doc_id"), Dedup.digest(col("text")).as("h"))
          .join(store.select(Dedup.digest(col("text")).as("h")).distinct(),
            Seq("h"), "left_semi")
          .select(col("doc_id"), lit(true).as("exact_hit"))
        batch.select("doc_id")
          .join(ex, Seq("doc_id"), "left")
          .join(cand, col("doc_id") === col("b_id"), "left")
          .select(col("doc_id"),
            coalesce(col("exact_hit"), lit(false)).as("is_exact"),
            coalesce(col("n_near"), lit(0L)).as("n_near"),
            when(coalesce(col("exact_hit"), lit(false)), "exact")
              .when(coalesce(col("n_near"), lit(0L)) > 0, "near")
              .otherwise("new").as("status"))
          .orderBy("doc_id")
      }),

    Q("q51_minhash_union_agg",
      "typed UDAF: per-source union-minhash sketch (elementwise min)",
      Some(s"""WITH w AS (SELECT doc_id, source, $sqlWords AS ws FROM documents),
        sh AS (SELECT doc_id, source, ${sqlShingles("ws")} AS sh FROM w),
        sig AS (SELECT doc_id, source,
          ${(0 until 8).map(j => s"${sqlMinhash("sh", j)} AS h$j").mkString(", ")}
          FROM sh)
        SELECT source, ${(0 until 8).map(j => s"MIN(h$j) AS u$j").mkString(", ")}
        FROM sig WHERE h0 IS NOT NULL GROUP BY source ORDER BY source"""),
      (s, d) => {
        import graft.functions.MinHashUnionAgg
        val docs = table(s, d, "documents")
        // `source` rides along with the signature computation instead of
        // a post-hoc id→source join: broadcasting that map is
        // linear-size (OOM at 100×) and shuffling it re-keys the corpus
        // twice for one attribute.
        val sig = graft.dedup.Dedup
          .signatureFrame(docs, "doc_id", "text", keep = Seq("source"))
          .filter(col("h0").isNotNull)
        sig.groupBy(col("source"))
          .agg(MinHashUnionAgg.minhashUnion(
            array((0 until 8).map(j => col(s"h$j")): _*)).as("u"))
          .select(col("source") +: (0 until 8).map(j =>
            element_at(col("u"), j + 1).as(s"u$j")): _*)
          .orderBy("source")
      }),

    Q("q58_corpus_clean",
      "composed cleaning pipeline: quality filter → exact dedup → langid",
      Some(s"""WITH q AS (SELECT doc_id, text, lang FROM documents
          WHERE len(regexp_split_to_array(text, '\\s+')) >= 30),
        d AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
        kept AS (SELECT q.doc_id, q.lang FROM q JOIN d USING (doc_id))
        SELECT lang, COUNT(*) AS n_kept FROM kept
        GROUP BY lang ORDER BY lang"""),
      (s, d) => {
        // The canonical training-data cleaning composition; every stage
        // is one of the already-verified operators. At scale: quality
        // filter is a narrow map, dedup shuffles 16-byte digests, the
        // final count is a cheap agg — document bytes never shuffle.
        val docs = table(s, d, "documents")
        val quality = docs.filter(size(words(col("text"))) >= 30)
        val keepIds = Dedup.exactGroups(quality, "doc_id", "text")
          .select(col("keep_id").as("doc_id"))
        quality.join(keepIds, "doc_id")
          .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
          .orderBy("lang")
      }),

    Q("q62_simhash_pairs",
      "SimHash near-dups via 4×8-bit Hamming multi-index, hamming ≤ 8",
      Some(s"""WITH w AS (SELECT doc_id, $sqlWords AS ws FROM documents),
        h AS (SELECT doc_id,
          list_transform(ws, x -> CAST('0x' || substr(md5(x),1,8) AS BIGINT)) AS hs
          FROM w),
        s AS (SELECT doc_id,
          CAST(list_sum(list_transform(range(0, 32), b ->
            CASE WHEN CAST(list_sum(list_transform(hs,
                h2 -> ((h2 >> b) & 1)*2 - 1)) AS BIGINT) > 0
            THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END)) AS BIGINT)
            AS sh FROM h),
        bands AS (SELECT doc_id, sh,
          unnest([sh & 255, (sh >> 8) & 255, (sh >> 16) & 255, (sh >> 24) & 255]) AS bv,
          unnest([0, 1, 2, 3]) AS bi FROM s),
        pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
            bit_count(xor(a.sh, b.sh)) AS hamming
          FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv
            AND a.doc_id < b.doc_id)
        SELECT a_id, b_id, hamming FROM pairs
        WHERE hamming <= 8
        ORDER BY hamming, a_id, b_id"""),
      (s, d) => {
        // Hamming multi-index (Dedup.simhashBandPairs) replaces the
        // sampled a_id < b_id cross join: candidates come from 4×8-bit
        // band-bucket equi-joins, so the full corpus works unsampled and
        // only (id, band) keys shuffle. Exact for hamming ≤ 3 by
        // pigeonhole; high-recall heuristic up to the declared 8 —
        // the gate is part of the query's semantics (oracle matches).
        val sh = table(s, d, "documents")
          .select(col("doc_id"), graft.functions.SimHash(s, col("text")).as("sh"))
          .repartition(col("doc_id")) // barrier + shared exchange across sides
        Dedup.simhashBandPairs(sh)
          .filter(col("hamming") <= 8)
          .orderBy("hamming", "a_id", "b_id")
      }),

    Q("q63_levenshtein",
      "edit-distance pairs on text prefixes, prefix-block candidate " +
        "gate with a per-block membership cap (the cheap tier; q105's " +
        "Ed-Join is the guaranteed-recall tier)",
      Some("""WITH s AS (SELECT doc_id, substr(text, 1, 24) AS p,
            substr(text, 1, 4) AS blk FROM documents),
        c AS (SELECT doc_id, p, blk,
            row_number() OVER (PARTITION BY blk ORDER BY doc_id) AS rn
          FROM s),
        k AS (SELECT doc_id, p, blk FROM c WHERE rn <= 256)
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
          levenshtein(a.p, b.p) AS dist
        FROM k a JOIN k b ON a.blk = b.blk
          AND a.doc_id < b.doc_id
        ORDER BY dist, a_id, b_id LIMIT 30"""),
      (s, d) => {
        // Blocking-key candidate gate: only prefixes sharing their first
        // 4 chars are scored, turning the sampled all-pairs cross join
        // into an equi-join on the block key. The cap is the skew guard:
        // a hot block is O(size²) pairs uncapped — at 100× a single
        // 50k-row block would emit 2.5e9 pairs. row_number ≤ 256 bounds
        // every block to ≤ 256·255/2 pairs regardless of corpus size
        // (deterministic: doc_id order, so the oracle models it exactly),
        // and Catalyst's InferWindowGroupLimit turns the rank filter
        // into a per-partition group limit — hot blocks are truncated
        // map-side, rows beyond the cap never reach the join. The capped
        // recall is the declared semantics of this CHEAP tier; q105
        // (Ed-Join q-gram prefix filter) is the guaranteed-recall tier.
        val cap = 256
        val blocked = table(s, d, "documents")
          .select(col("doc_id"), substring(col("text"), 1, 24).as("p"),
            substring(col("text"), 1, 4).as("blk"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("blk").orderBy("doc_id")))
          .filter(col("rn") <= cap)
        val a = blocked.select(col("doc_id").as("a_id"), col("p").as("a_p"),
          col("blk"))
        val b = blocked.select(col("doc_id").as("b_id"), col("p").as("b_p"),
          col("blk"))
        // merge-hint pins sort-merge: the window already hash-partitions
        // by blk, so SMJ reuses ONE scan+window exchange for both sides
        // (ReuseExchange), where a broadcast would compute the chain —
        // i.e. scan the corpus — twice. Same rationale as
        // Dedup.lshCandidatePairs.
        a.join(b.hint("merge"), Seq("blk"))
          .filter(col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"),
            levenshtein(col("a_p"), col("b_p")).cast("long").as("dist"))
          .orderBy("dist", "a_id", "b_id")
          .limit(30)
      }),

    Q("q35_simhash",
      "32-bit SimHash digest per document (Charikar construction)",
      Some(s"""WITH w AS (SELECT doc_id, $sqlWords AS ws FROM documents),
        h AS (SELECT doc_id,
          list_transform(ws, x -> CAST('0x' || substr(md5(x),1,8) AS BIGINT)) AS hs
          FROM w)
        SELECT doc_id,
          CAST(list_sum(list_transform(range(0, 32), b ->
            CASE WHEN CAST(list_sum(list_transform(hs,
                h2 -> ((h2 >> b) & 1)*2 - 1)) AS BIGINT) > 0
            THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END)) AS BIGINT)
            AS simhash
        FROM h ORDER BY doc_id"""),
      (s, d) => table(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.SimHash(s, col("text")).as("simhash"))
        .orderBy("doc_id"))
  ,

    Q("q131_quality_classifier",
      "hashed-feature linear quality classifier, fastText-style: token " +
        "→ rolling-hash bucket (1024 slots) → closed-form integer " +
        "weight, summed exactly and length-normalized to a score + " +
        "keep/drop verdict; nested higher-order functions, zero " +
        "shuffle, codegen end to end",
      Some(s"""WITH toks AS (
          SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws
          FROM documents),
        w AS (
          SELECT doc_id, len(ws) AS n_tokens,
            list_transform(ws, t ->
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(range(1, length(t)+1),
                  i -> CAST(ascii(substr(t, CAST(i AS INT), 1)) AS BIGINT))),
                (a, b) -> (a*31 + b) % ${Hashing.P}) % 1024) AS buckets
          FROM toks),
        scored AS (
          SELECT doc_id, n_tokens,
            CAST(list_sum(list_transform(buckets, b -> b % 201 - 100))
              AS BIGINT) AS raw_score
          FROM w)
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, raw_score,
          CAST(raw_score AS DOUBLE) / (100.0 * n_tokens) AS quality_score,
          raw_score > 0 AS keep
        FROM scored ORDER BY doc_id"""),
      (s, d) => {
        table(s, d, "documents")
          .select(col("doc_id"),
            size(words(col("text"))).cast("long").as("n_tokens"),
            graft.functions.HashedScore(s, col("text")).as("raw_score"))
          .withColumn("quality_score",
            col("raw_score").cast("double") / (lit(100.0) * col("n_tokens")))
          .withColumn("keep", col("raw_score") > 0)
          .orderBy("doc_id")
      }),

    Q("q132_bpe_pretokens",
      "BPE-style pre-tokenization (the GPT-2 regex family: " +
        "contractions | letters | digits | punctuation runs, each with " +
        "optional leading space) vs whitespace tokens — token counts, " +
        "fertility ratio, and the first-5 token spellings; documents " +
        "are decorated with deterministic punctuation/contractions so " +
        "the two tokenizations genuinely diverge; pure narrow map, " +
        "codegen regex, zero shuffle",
      Some("""WITH t AS (
          SELECT doc_id,
            text || ' it''s v' || CAST(doc_id % 10 AS VARCHAR) || '.' ||
              CAST(doc_id % 7 AS VARCHAR) || ', don''t #tag-' ||
              CAST(doc_id AS VARCHAR) || '!!' AS rich
          FROM documents),
        tok AS (
          SELECT doc_id,
            regexp_split_to_array(rich, '\s+') AS ws,
            regexp_extract_all(rich,
              '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')
              AS bpe
          FROM t)
        SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_ws_tokens,
          CAST(len(bpe) AS BIGINT) AS n_bpe_tokens,
          CAST(len(bpe) AS DOUBLE) / len(ws) AS fertility,
          array_to_string(bpe[1:5], '|') AS head_tokens
        FROM tok ORDER BY doc_id"""),
      (s, d) => {
        val rich = concat(col("text"), lit(" it's v"),
          (col("doc_id") % 10).cast("string"), lit("."),
          (col("doc_id") % 7).cast("string"), lit(", don't #tag-"),
          col("doc_id").cast("string"), lit("!!"))
        val bpe = regexp_extract_all(rich,
          lit("'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+"),
          lit(0))
        table(s, d, "documents")
          .select(col("doc_id"),
            size(split(rich, "\\s+")).cast("long").as("n_ws_tokens"),
            size(bpe).cast("long").as("n_bpe_tokens"),
            (size(bpe).cast("double") / size(split(rich, "\\s+")))
              .as("fertility"),
            array_join(slice(bpe, 1, 5), "|").as("head_tokens"))
          .orderBy("doc_id")
      }),

    Q("q148_pmi_collocations",
      "collocation extraction: top-20 adjacent word pairs by pointwise " +
        "mutual information, min bigram count 5 — the phrase-mining " +
        "primitive (multi-word expressions for tokenizer vocab and " +
        "n-gram features). Bigram and unigram counts partial-aggregate " +
        "map-side to distinct-type-sized shuffles; the two unigram " +
        "lookups stay KEYED joins (word space grows with the corpus, " +
        "never broadcast-safe); the totals frame is the only broadcast " +
        "(1 row by construction). Cross-engine determinism (round-7 " +
        "structural fix): NOTHING transcendental or double-rounded is " +
        "ever emitted — the ORDER BY ranks on the pre-ln ratio " +
        "cab*N/(ca*cb) (IEEE mul/div are correctly rounded, hence " +
        "bit-identical in both engines, and ln is monotone so the " +
        "ranking equals PMI order), and the output carries the exact " +
        "integer counts (cab, ca, cb, n) plus the rank; the consumer " +
        "takes ln(cab*n/(ca*cb)) at whatever precision it wants. The " +
        "rank window runs AFTER the limit, over 20 rows — never a " +
        "global single-partition window at corpus scale",
      Some(s"""WITH w AS (SELECT doc_id, $sqlWords AS ws FROM documents),
          u AS (SELECT unnest(ws) AS wd FROM w),
          uc AS (SELECT wd, CAST(COUNT(*) AS BIGINT) AS c FROM u
            WHERE length(wd) > 0 GROUP BY wd),
          bg AS (SELECT unnest(list_transform(range(1, len(ws)),
              i -> [ws[CAST(i AS INT)], ws[CAST(i + 1 AS INT)]])) AS pr
            FROM w),
          bc AS (SELECT pr[1] AS a, pr[2] AS b,
              CAST(COUNT(*) AS BIGINT) AS cab
            FROM bg WHERE length(pr[1]) > 0 AND length(pr[2]) > 0
            GROUP BY pr[1], pr[2]),
          tot AS (SELECT CAST(SUM(cab) AS BIGINT) AS n FROM bc),
          sel AS (SELECT a, b, cab, ca.c AS ca, cb.c AS cb, t.n AS n,
              CAST(cab AS DOUBLE) * t.n / (ca.c * CAST(cb.c AS DOUBLE))
                AS ratio
            FROM bc JOIN uc ca ON bc.a = ca.wd
                    JOIN uc cb ON bc.b = cb.wd
                    CROSS JOIN tot t
            WHERE cab >= 5
            ORDER BY ratio DESC, a, b LIMIT 20)
        SELECT a, b, cab, ca, cb, n,
          CAST(row_number() OVER (ORDER BY ratio DESC, a, b) AS INT)
            AS pmi_rank
        FROM sel"""),
      (s, d) => {
        val w = table(s, d, "documents")
          .select(split(col("text"), "\\s+").as("ws"))
        val uc = w.select(explode(col("ws")).as("wd"))
          .filter(length(col("wd")) > 0)
          .groupBy("wd").agg(count(lit(1)).as("c"))
        val bc = w.select(explode(
            graft.text.TextFunctions.adjacentPairs(col("ws"))).as("p"))
          .filter(length(col("p.a")) > 0 && length(col("p.b")) > 0)
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(count(lit(1)).as("cab"))
        val tot = bc.agg(sum(col("cab")).as("n"))
        val sel = bc.filter(col("cab") >= 5)
          .join(uc.select(col("wd"), col("c").as("ca")),
            col("a") === col("wd")).drop("wd")
          .join(uc.select(col("wd"), col("c").as("cb")),
            col("b") === col("wd")).drop("wd")
          .crossJoin(broadcast(tot))
          // same operand order as the oracle: (cab_dbl * n) / (ca * cb_dbl)
          .withColumn("ratio", col("cab").cast("double") * col("n") /
            (col("ca") * col("cb").cast("double")))
          .orderBy(col("ratio").desc, col("a"), col("b")).limit(20)
        // rank over the 20 selected rows only (not a corpus-scale window)
        sel.withColumn("pmi_rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("ratio").desc, col("a"), col("b"))))
          .select(col("a"), col("b"), col("cab"), col("ca"), col("cb"),
            col("n"), col("pmi_rank"))
      })
  )
}
