package graft.queries

import org.apache.spark.sql.functions._

import Common._
import graft.dedup.Dedup
import graft.ops.Hashing
import graft.text.TextFunctions

/** Round-7 audit wave 3 (SURVEY §2.7 T87–T90): estimator-vs-exact and
  * pipeline-bias meters — the MinHash Jaccard estimator's per-pair
  * error, what near-dup dedup deletes per source, declared-vs-predicted
  * language confusion, and the padding-waste curve that picks a packing
  * length.
  */
object Audit3 {

  private val sqlWords = """regexp_split_to_array(text, '\s+')"""
  private val P = Hashing.P
  private def sqlShingles(ws: String) =
    s"list_distinct(list_transform(range(1, len($ws)-1), i -> array_to_string(($ws)[i:i+2], ' ')))"
  private def sqlMinhash(sh: String, j: Int) =
    s"list_min(list_transform($sh, s -> (CAST('0x' || substr(md5(s),1,8) AS BIGINT) % $P * ${Hashing.HashA(j)} + ${Hashing.HashB(j)}) % $P))"

  val qs: Seq[Q] = Seq(
    Q("q175_minhash_estimate_audit",
      "MinHash estimator error meter: on every LSH candidate pair, the " +
        "8-hash Jaccard ESTIMATE (matching minhash count / 8) next to " +
        "the exact Jaccard — top 20 largest absolute errors. The " +
        "number that sizes how many hashes a 100 TB dedup sweep " +
        "actually needs. Error ranks on the exact integer lattice " +
        "|8·ni − m·nu|·10⁶ DIV (8·nu) — no float comparison anywhere",
      Some(s"""WITH w AS (SELECT doc_id, $sqlWords AS ws FROM documents),
        sh AS (SELECT doc_id, ${sqlShingles("ws")} AS sh FROM w),
        sig AS (SELECT doc_id,
          ${(0 until 8).map(j => s"${sqlMinhash("sh", j)} AS h$j")
            .mkString(", ")} FROM sh),
        bands AS (SELECT doc_id,
          unnest([h0*$P+h1, h2*$P+h3, h4*$P+h5, h6*$P+h7]) AS bv,
          unnest([0, 1, 2, 3]) AS bi FROM sig),
        pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv
            AND a.doc_id < b.doc_id),
        m AS (SELECT p.a_id, p.b_id,
            CAST(${(0 until 8).map(j =>
              s"(CASE WHEN sa.h$j = sb.h$j THEN 1 ELSE 0 END)")
              .mkString(" + ")} AS BIGINT) AS n_match
          FROM pairs p JOIN sig sa ON sa.doc_id = p.a_id
            JOIN sig sb ON sb.doc_id = p.b_id),
        x AS (SELECT m.a_id, m.b_id, m.n_match,
            CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS n_inter,
            CAST(len(list_distinct(sa.sh || sb.sh)) AS BIGINT) AS n_union
          FROM m JOIN sh sa ON sa.doc_id = m.a_id
            JOIN sh sb ON sb.doc_id = m.b_id)
        SELECT a_id, b_id, n_match, n_inter, n_union,
          CAST(abs(8 * n_inter - n_match * n_union) * 1000000
            // (8 * n_union) AS BIGINT) AS err_ppm
        FROM x
        ORDER BY err_ppm DESC, a_id, b_id LIMIT 20"""),
      (s, d) => {
        val docs = table(s, d, "documents")
        // checkpointed shingle frame serves banding + both exact joins
        // (the q164 pattern); the signature frame reads text directly
        // through the codegen'd graft_minhash_signature — one extra narrow
        // scan beats 8 interpreted HOF minima over 3M shingle elements
        val sh = Dedup.shingleFrame(docs, "doc_id", "text")
          .localCheckpoint()
        val sig = Dedup.signatureFrame(docs, "doc_id", "text")
        val cand = Dedup.lshCandidatePairsFromShingles(sh)
        val siga = sig.toDF("a_id" +: (0 until 8).map(j => s"a$j"): _*)
        val sigb = sig.toDF("b_id" +: (0 until 8).map(j => s"b$j"): _*)
        val matches = (0 until 8).map(j =>
          when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
          .reduce(_ + _)
        cand.join(siga, "a_id").join(sigb, "b_id")
          .select(col("a_id"), col("b_id"), matches.as("n_match"))
          .join(sh.toDF("a_id", "a_sh"), "a_id")
          .join(sh.toDF("b_id", "b_sh"), "b_id")
          .select(col("a_id"), col("b_id"), col("n_match"),
            size(array_intersect(col("a_sh"), col("b_sh")))
              .cast("long").as("n_inter"),
            size(array_union(col("a_sh"), col("b_sh")))
              .cast("long").as("n_union"))
          .withColumn("err_ppm", expr(
            "CAST(abs(8 * n_inter - n_match * n_union) * 1000000L " +
              "DIV (8 * n_union) AS LONG)"))
          .orderBy(col("err_ppm").desc, col("a_id"), col("b_id"))
          .limit(20)
      }),

    Q("q176_dedup_survivor_bias",
      "dedup bias meter: what does near-dup removal (q87's LSH → " +
        "Jaccard ≥ 0.8 → components → keep cluster min) DELETE, per " +
        "source? Boilerplate-heavy sources lose disproportionately — " +
        "this is the table that catches a dedup config silently " +
        "reweighting the mixture. Emits n_before / n_kept / removed " +
        "ppm per source, all exact integers",
      Some(s"""WITH RECURSIVE
        w AS (SELECT doc_id, $sqlWords AS ws FROM documents),
        sh AS (SELECT doc_id, ${sqlShingles("ws")} AS sh FROM w),
        sig AS (SELECT doc_id,
          ${(0 until 8).map(j => s"${sqlMinhash("sh", j)} AS h$j")
            .mkString(", ")} FROM sh),
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
        removed AS (SELECT src FROM reach GROUP BY src
          HAVING MIN(dst) < src)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_before,
          CAST(COUNT(*) FILTER (doc_id NOT IN (SELECT src FROM removed))
            AS BIGINT) AS n_kept,
          CAST(COUNT(*) FILTER (doc_id IN (SELECT src FROM removed))
            * 1000000 // COUNT(*) AS BIGINT) AS removed_ppm
        FROM documents GROUP BY source ORDER BY source"""),
      (s, d) => {
        val docs = table(s, d, "documents")
        val sh = Dedup.shingleFrame(docs, "doc_id", "text")
        val edges = Dedup.lshCandidatePairsFromShingles(sh)
          .join(sh.toDF("a_id", "a_sh"), "a_id")
          .join(sh.toDF("b_id", "b_sh"), "b_id")
          .filter(graft.functions.Jaccard(s, col("a_sh"), col("b_sh"))
            >= 0.8)
          .select("a_id", "b_id")
        val removed = Dedup.dupClusters(edges)
          .filter(col("cluster_id") =!= col("doc_id"))
          .select(col("doc_id"), lit(true).as("is_removed"))
        docs.join(removed, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_before"),
            count(when(col("is_removed").isNull, 1)).as("n_kept"),
            expr("CAST(count(CASE WHEN is_removed THEN 1 END) " +
              "* 1000000L DIV count(1) AS LONG)").as("removed_ppm"))
          .orderBy("source")
      }),

    Q("q177_lang_confusion",
      "language-ID confusion matrix: the declared `lang` column vs the " +
        "stopword-profile prediction (q40's argmax), counts per " +
        "(declared, predicted) cell — the audit that calibrates how " +
        "much to trust the cheap heuristic per corpus slice before " +
        "using it to route mixture weights",
      Some(s"""WITH w AS (SELECT doc_id, lang,
          regexp_split_to_array(lower(text), '\\s+') AS ws FROM documents),
        scored AS (SELECT doc_id, lang, ${TextFunctions.LangStopwords.map {
          case (lg, st) =>
            s"len(list_filter(ws, x -> x IN (${st.map(x => s"'$x'")
              .mkString(", ")}))) AS s_$lg"
        }.mkString(", ")} FROM w),
        best AS (SELECT doc_id, lang,
            list_aggregate([${(TextFunctions.LangStopwords.map {
              case (lg, _) => s"{'score': s_$lg, 'lang': '$lg'}"
            } :+ "{'score': 0, 'lang': 'und'}").mkString(", ")}], 'max')
            AS m FROM scored)
        SELECT lang AS lang_declared, m.lang AS lang_pred,
          CAST(COUNT(*) AS BIGINT) AS n
        FROM best GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, d) => table(s, d, "documents")
        .select(col("lang").as("lang_declared"),
          // one-pass codegen'd scorer (r17): same split/lower, same
          // occurrence counts, same (score, code) argmax tiebreak as
          // the 4-filter-HOF + array_max form (graft_lang_id)
          graft.functions.LangId(s, col("text")).as("lang_pred"))
        .groupBy("lang_declared", "lang_pred")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang_declared", "lang_pred")),

    Q("q178_padding_waste",
      "packing-length tuning curve: for max_len ∈ {128, 256, 512}, " +
        "the padded token mass under per-doc chunk-and-pad " +
        "(⌈n/L⌉·L) and the waste in ppm — the three-row table that " +
        "picks a sequence length before a 100 TB tokenization run. " +
        "Pure integer arithmetic (ceil-div as (n+L−1) DIV L); the " +
        "corpus aggregates map-side to one row per L",
      Some(s"""WITH d AS (SELECT len($sqlWords) AS nt FROM documents),
        g AS (SELECT unnest([128, 256, 512]) AS max_len),
        p AS (SELECT g.max_len,
            CAST(SUM(nt) AS BIGINT) AS n_tokens,
            CAST(SUM(((nt + g.max_len - 1) // g.max_len) * g.max_len)
              AS BIGINT) AS n_padded
          FROM d CROSS JOIN g GROUP BY g.max_len)
        SELECT CAST(max_len AS BIGINT) AS max_len, n_tokens, n_padded,
          CAST((n_padded - n_tokens) * 1000000 // n_padded AS BIGINT)
            AS waste_ppm
        FROM p ORDER BY max_len"""),
      (s, d) => {
        val nt = table(s, d, "documents")
          .select(size(TextFunctions.words(col("text"))).cast("long")
            .as("nt"))
        nt.crossJoin(broadcast(
            s.range(3).select(expr("shiftleft(128L, CAST(id AS INT))")
              .as("max_len"))))
          .groupBy("max_len")
          .agg(sum(col("nt")).as("n_tokens"),
            sum(expr("((nt + max_len - 1) DIV max_len) * max_len"))
              .as("n_padded"))
          .select(col("max_len").cast("long").as("max_len"),
            col("n_tokens"), col("n_padded"),
            expr("CAST((n_padded - n_tokens) * 1000000L DIV n_padded " +
              "AS LONG)").as("waste_ppm"))
          .orderBy("max_len")
      }),

    Q("q180_salted_join_agg",
      "explicit salt-and-replicate skew join (graft.ops.Skew, " +
        "driver-checked): lineitem ⋈ supplier with hot keys split 8 " +
        "ways — the fallback for skew the planner can't see (AQE's " +
        "runtime skew split covers sort-merge; the salted form covers " +
        "replicable small sides and pre-AQE engines). The salt is " +
        "RESULT-INVARIANT (it only re-partitions work), so the plain " +
        "unsalted join is the exact oracle; revenue per nation through " +
        "the decimal lattice",
      Some("""SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_items,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE)
            AS revenue
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_nationkey ORDER BY s_nationkey"""),
      (s, d) => {
        val li = table(s, d, "lineitem")
          .select("l_suppkey", "l_extendedprice")
        val sup = table(s, d, "supplier").select("s_suppkey", "s_nationkey")
        graft.ops.Skew.saltedJoin(li, sup, "l_suppkey", "s_suppkey", 8)
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n_items"),
            dsum(col("l_extendedprice"), 6).as("revenue"))
          .orderBy("s_nationkey")
      })
  )
}
