package graft.queries

import org.apache.spark.sql.functions._

import Common._
import graft.text.TextFunctions._

/** Round-14 curation wave (SURVEY §2.7 T181+): variable-length
  * duplicated-substring dedup (the Lee et al. any-length shape,
  * re-expressed as multi-length window hashing with longest-match
  * attribution) and the character-n-gram language scorer.
  *
  * Scale discipline (the file-level contract the dedup family keeps):
  * text reduces to fixed-width hashes before any shuffle; per-doc span
  * algebra is in-row array math; model tables are bounded and
  * broadcast.
  */
object Curation5 {

  /** Window tiers, longest first: a position covered at a longer tier
    * is CHARGED there — long boilerplate is attributed once at (close
    * to) its true length instead of as ~n fragments of the shortest
    * tier.
    */
  private[graft] val Tiers = Seq(64, 32, 16, 8)

  // hashed char-3-gram buckets (T182); private[graft] so the
  // graft_ngram_hist kernel reads the same constant
  private[graft] val NGramB = 4096

  /** Rolling-polynomial window hash over per-token portable hashes —
    * H = fold(0, (a, h) → (a·B + h) mod P) over the window's token
    * hashes. The Spark side computes it as a TRUE rolling hash: each
    * token md5-hashes once and every window is an O(1) polynomial
    * update, vs the per-window concat+md5 form that copied + hashed
    * Σ tier lengths ≈ 120 tokens per position (~25× the hash work;
    * measured solo at sf0.1 the whole query moves 6.7 → 5.8 s —
    * the dup shuffle and span algebra dominate locally, the hash
    * saving is the 100 TB narrow-stage lever). The oracle recomputes
    * per window, which is fine at oracle scale. Same fold, same
    * constants, both engines.
    */
  private[graft] val RollB = 1000003L

  private def winsSql(l: Int): String =
    s"""(SELECT doc_id, i,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(ws[CAST(i AS INT):CAST(i + ${l - 1} AS INT)],
              t -> ${sqlHash32("t")})),
            (a, h) -> (a * $RollB + h) % ${graft.ops.Hashing.P}) AS wh
        FROM tt, LATERAL (SELECT unnest(generate_series(1, n - ${l - 1}))
          AS i) g
        WHERE n >= $l)"""

  private def covSql(l: Int): String =
    s"""(SELECT doc_id, list_distinct(flatten(list_transform(
          list_sort(list(i)), s -> range(s, s + $l)))) AS cov
        FROM ${winsSql(l)} w
        WHERE wh IN (SELECT wh
          FROM (SELECT doc_id AS d2, wh FROM ${winsSql(l)} w2i) w2
          GROUP BY wh HAVING COUNT(DISTINCT d2) > 1)
        GROUP BY doc_id)"""

  val qs: Seq[Q] = Seq(
    Q("q271_multiscale_dedup",
      "variable-length duplicated-substring dedup (T181 — the Lee et " +
        "al. any-match-length shape without a distributed suffix " +
        "array): window tiers of 64/32/16/8 tokens hash in ONE pass " +
        "over the corpus, duplicated windows per tier merge into " +
        "per-doc covered-position sets, and attribution is " +
        "longest-match-first — a position covered at a longer tier " +
        "is charged there, so a planted 100-token duplicate reads as " +
        "ONE ~100-token span at the 64 tier (T60/T69 report it as " +
        "~12 overlapping 8-token fragments), while an isolated " +
        "8-gram collision still lands in the 8-tier bucket. Output: " +
        "per-doc covered mass, per-tier attributed masses, merged " +
        "span count and longest span for the 100 most-covered docs. " +
        "Scale shape: all four tiers ride ONE tokenization scan and " +
        "ONE (tier, hash) groupBy + semi-join — 4 fixed-width hash " +
        "rows per token position, text never shuffles; span algebra " +
        "is in-row array math",
      Some(s"""WITH t AS (SELECT doc_id,
            regexp_split_to_array(text, '\\s+') AS ws FROM documents),
        tt AS (SELECT doc_id, ws, len(ws) AS n FROM t WHERE len(ws) >= 8),
        c64 AS ${covSql(64)},
        c32 AS ${covSql(32)},
        c16 AS ${covSql(16)},
        c8 AS ${covSql(8)},
        j AS (SELECT tt.doc_id, CAST(tt.n AS BIGINT) AS n_tokens,
            COALESCE(c64.cov, []) AS v64, COALESCE(c32.cov, []) AS v32,
            COALESCE(c16.cov, []) AS v16, COALESCE(c8.cov, []) AS v8
          FROM tt LEFT JOIN c64 USING (doc_id)
            LEFT JOIN c32 USING (doc_id) LEFT JOIN c16 USING (doc_id)
            LEFT JOIN c8 USING (doc_id)),
        a AS (SELECT doc_id, n_tokens,
            list_sort(list_distinct(v64 || v32 || v16 || v8)) AS u,
            CAST(len(v64) AS BIGINT) AS t64,
            CAST(len(list_filter(v32,
              p -> NOT list_contains(v64, p))) AS BIGINT) AS t32,
            CAST(len(list_filter(v16,
              p -> NOT list_contains(v64 || v32, p))) AS BIGINT) AS t16,
            CAST(len(list_filter(v8,
              p -> NOT list_contains(v64 || v32 || v16, p))) AS BIGINT)
              AS t8
          FROM j),
        sp AS (SELECT doc_id, n_tokens, t64, t32, t16, t8,
            CAST(len(u) AS BIGINT) AS covered,
            list_sort(list_filter(u,
              p -> NOT list_contains(u, p - 1))) AS heads,
            list_sort(list_filter(u,
              p -> NOT list_contains(u, p + 1))) AS tails
          FROM a)
        SELECT doc_id, n_tokens, covered, t64, t32, t16, t8,
          CAST(len(heads) AS BIGINT) AS n_spans,
          CAST(COALESCE(list_max(list_transform(range(1, len(heads) + 1),
            k -> tails[CAST(k AS INT)] - heads[CAST(k AS INT)] + 1)), 0)
            AS BIGINT) AS longest_span
        FROM sp WHERE covered > 0
        ORDER BY covered DESC, doc_id LIMIT 100"""),
      (s, d) => {
        import s.implicits._
        val t = table(s, d, "documents")
          .select(col("doc_id"), words(col("text")).as("ws"))
          .filter(size(col("ws")) >= Tiers.min)
        // ONE generator for all tiers, as a TRUE rolling hash: each
        // token md5-hashes once, then every tier's window hash is an
        // O(1) polynomial update — vs the per-window concat+md5 form
        // whose narrow stage copied Σ tier lengths ≈ 120 tokens per
        // position (measured 2.5× the whole query at sf0.1). r17: the
        // typed-Dataset flatMap became a codegen'd expression
        // (graft_multiscale_windows, bit-identical rows) — the flatMap
        // paid Seq[String] deserialization + per-window tuple
        // re-encoding on every document. localCheckpoint for the same
        // two-consumer reason as q150 (dup build + probe).
        val wins = t.select(col("doc_id"), explode(
            graft.functions.MultiscaleWindows(s, col("ws"))).as("w"))
          .select(col("doc_id"), col("w.tier").as("tier"),
            col("w.i").as("i"), col("w.wh").as("wh"))
          .transform(Common.checkpointSer)
        // one (tier, hash) shuffle covers all tiers
        val dup = wins.groupBy("tier", "wh")
          // min != max is exactly countDistinct > 1 without the
          // two-phase distinct expansion (r16)
          .agg(min("doc_id").as("d0"), max("doc_id").as("d1"))
          .filter(col("d0") =!= col("d1")).select("tier", "wh")
        val cov = wins.join(dup, Seq("tier", "wh"), "left_semi")
          .groupBy("doc_id", "tier")
          .agg(array_sort(collect_list(col("i"))).as("starts"))
          .select(col("doc_id"), col("tier"),
            array_distinct(flatten(transform(col("starts"),
              x => sequence(x.cast("long"),
                (x + col("tier") - 1).cast("long"))))).as("cov"))
        // pivot tiers wide: one row per (doc, tier) → first() is exact
        val wide = cov.groupBy("doc_id")
          .agg(Tiers.map(l =>
            first(when(col("tier") === l, col("cov")), ignoreNulls = true)
              .as(s"v$l")).head,
            Tiers.map(l =>
              first(when(col("tier") === l, col("cov")),
                ignoreNulls = true).as(s"v$l")).tail: _*)
        val empty = lit(Array.empty[Long])
        val j = t.select(col("doc_id"),
            size(col("ws")).cast("long").as("n_tokens"))
          .join(wide, Seq("doc_id"))
          .select((Seq(col("doc_id"), col("n_tokens")) ++
            Tiers.map(l => coalesce(col(s"v$l"), empty).as(s"v$l"))): _*)
        // one-pass span algebra (graft_coverage_stats, r17): identical
        // set semantics to the array_sort/distinct/except/filter-with-
        // array_contains HOF chain it replaces — whose heads/tails
        // filters were O(|u|²) interpreted lambdas per document
        val cs = graft.functions.CoverageStats(s,
          col("v64"), col("v32"), col("v16"), col("v8"))
        j.withColumn("cs", cs)
          .select(col("doc_id"), col("n_tokens"),
            col("cs.covered").as("covered"), col("cs.t64").as("t64"),
            col("cs.t32").as("t32"), col("cs.t16").as("t16"),
            col("cs.t8").as("t8"), col("cs.n_spans").as("n_spans"),
            col("cs.longest_span").as("longest_span"))
          .filter(col("covered") > 0)
          .orderBy(col("covered").desc, col("doc_id")).limit(100)
      }),

    Q("q272_ngram_lang_confusion",
      "character-n-gram language scorer (T182 — VERDICT-r13 item 5, " +
        "the upgrade path for T89's stopword argmax): hashed char-" +
        s"3-gram profiles ($NGramB buckets, add-1-smoothed integer " +
        "per-1e9 weights) built from the corpus's declared-lang " +
        "slices, every doc re-scored by Σ nb·w[lang,bucket] and " +
        "argmax'd — the label/content consistency audit in the same " +
        "confusion-matrix shape as q177. On THIS corpus the lang " +
        "labels are content-independent by construction (all slices " +
        "share one vocabulary — measured, see Curation5Spec), so the " +
        "matrix quantifies label noise; on a real multilingual " +
        "corpus the same operator separates scripts and languages " +
        "(Curation5Spec plants real de/en/es/fr snippets and the " +
        "scorer achieves a perfect diagonal where the stopword " +
        "heuristic mislabels). All integer math: polynomial char " +
        "hash, integer-division weights, long-sum argmax with the " +
        "max-struct tie-break. Scale shape: the profile table is " +
        s"(langs × $NGramB) and broadcast; the corpus shuffles once " +
        "as per-doc (bucket, count) histogram rows — text never " +
        "moves",
      Some(langConfusionSql(train = "1 = 1", eval = "1 = 1")),
      (s, d) => langConfusion(s, d, train = "1 = 1", eval = "1 = 1")),

    Q("q278_ngram_lang_holdout",
      "held-out generalization of the T182 scorer: profiles train on " +
        "the 90% slice (doc_id%10<>0) and score ONLY the disjoint " +
        "10% eval slice — the q141-discipline split that separates " +
        "what the 3-gram model memorized from what it learned. On " +
        "this corpus (content-independent labels by construction) " +
        "the held-out matrix collapses toward the majority class, " +
        "and the GAP between q272's self-scored diagonal and this " +
        "one IS the measured memorization mass — the audit a " +
        "deployment reads before trusting a corpus-trained router " +
        "on new data. Same integer machinery, same shapes",
      Some(langConfusionSql(train = "doc_id % 10 <> 0",
        eval = "doc_id % 10 = 0")),
      (s, d) => langConfusion(s, d, train = "doc_id % 10 <> 0",
        eval = "doc_id % 10 = 0")),

    Q("q279_lang_router",
      "PRODUCTION language router (T189 — VERDICT-r14 item 5, q278's " +
        "finding made operational): an integer log-linear mix of the " +
        "T182 char-3-gram model and the T89 stopword prior, with an " +
        "abstain/OOD flag. Per (doc, candidate lang): score = " +
        "Σ_b nb·lnLat12(c_b+1, tot+4096) + 2e12·stopword_hits — the " +
        "naive-Bayes log-likelihood on the engine-exact 1e-12 ln " +
        "lattice, plus e² per stopword hit as the prior's evidence — " +
        "and the verdict ABSTAINS ('und') when the top-two margin is " +
        "under 1e12 (likelihood ratio < e), which is exactly where a " +
        "router must not route (Curation5Spec: a digits-only OOD doc " +
        "abstains at margin 0.85e12 while every real-language snippet " +
        "clears 9e12). Trained under the q278 split discipline " +
        "(90% train / 10% eval); held-out diagonal ≥ both parents " +
        "(measured 20/50 = the n-gram path, vs the heuristic's ~16) " +
        "and a perfect 15/15 on the real de/en/es/fr/zh fixture where " +
        "each parent alone errs. Scale shape: the corpus shuffles " +
        "once as histogram rows (the q272 exchange); the model is " +
        "langs×4096 ln-lattice weights, broadcast; the lnLat12 folds " +
        "run on the model frame only, never per corpus row",
      Some(langRouterSql(train = "doc_id % 10 <> 0",
        eval = "doc_id % 10 = 0")),
      (s, d) => langRouter(s, d, train = "doc_id % 10 <> 0",
        eval = "doc_id % 10 = 0"))
  )

  /** The DuckDB twin of [[langConfusion]], parameterized by the
    * train/eval slice predicates.
    */
  private def langConfusionSql(train: String, eval: String): String =
    s"""WITH cs AS (SELECT doc_id, lang,
          list_transform(range(1, length(text) + 1),
            i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))
            AS cs
        FROM documents WHERE length(text) >= 3),
      g AS (SELECT doc_id, lang,
          unnest(list_transform(range(1, length(cs) - 1),
            i -> ((cs[CAST(i AS INT)] * 31 + cs[CAST(i + 1 AS INT)]) * 31
              + cs[CAST(i + 2 AS INT)]) % ${graft.ops.Hashing.P}
              % $NGramB)) AS b
        FROM cs),
      hist AS (SELECT doc_id, lang, b, CAST(COUNT(*) AS BIGINT) AS nb
        FROM g GROUP BY doc_id, lang, b),
      prof AS (SELECT lang AS plang, b, CAST(SUM(nb) AS BIGINT) AS c
        FROM hist WHERE $train GROUP BY lang, b),
      tot AS (SELECT plang, CAST(SUM(c) AS BIGINT) AS tot
        FROM prof GROUP BY plang),
      w AS (SELECT prof.plang, prof.b,
          (prof.c + 1) * 1000000000 // (t.tot + $NGramB) AS w
        FROM prof JOIN tot t USING (plang)),
      sc AS (SELECT h.doc_id, h.lang, t.plang,
          CAST(SUM(h.nb * COALESCE(w.w,
            1000000000 // (t.tot + $NGramB))) AS BIGINT) AS score
        FROM hist h CROSS JOIN tot t
          LEFT JOIN w ON w.plang = t.plang AND w.b = h.b
        WHERE $eval
        GROUP BY h.doc_id, h.lang, t.plang),
      best AS (SELECT doc_id, lang,
          list_aggregate(list({'score': score, 'plang': plang}),
            'max') AS m
        FROM sc GROUP BY doc_id, lang)
      SELECT lang AS lang_declared, m.plang AS lang_pred,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM best GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Per-doc hashed char-3-gram histogram — the ONE corpus shuffle
    * the whole T182/T189 family rides (map-side combined);
    * localCheckpoint because profile build AND scoring probe both
    * consume it.
    */
  private def ngramHist(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    // One imperative code-point pass per doc (graft_ngram_hist) — the
    // r16 rewrite of the ascii(substr(text, i, 1)) HOF chain, whose
    // per-position substr made the codes array O(len²) per document
    // and whose per-position explode shuffled corpus-sized gram rows
    // into a groupBy this expression pre-aggregates inside the scan
    // task (bucket values identical: same code points, same integer
    // hash — the DuckDB twin is untouched). Measured at sf0.1:
    // q272 5.1 → 2.2 s, q278 4.6 → 1.9 s, q279 5.3 → 3.1 s.
    val docs = table(s, d, "documents")
      .filter(expr("char_length(text) >= 3"))
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.NGramHist(s, col("text"))).as("h"))
      .select(col("doc_id"), col("lang"),
        col("h.b").as("b"), col("h.nb").as("nb"))
    Common.checkpointSer(docs)
  }

  /** The T182 scorer, parameterized by SQL-syntax slice predicates
    * over (doc_id, lang) — applied via expr() so the Spark and DuckDB
    * slices cannot fork.
    */
  private def langConfusion(s: org.apache.spark.sql.SparkSession,
      d: String, train: String, eval: String)
      : org.apache.spark.sql.DataFrame = {
    val hist = ngramHist(s, d)
    val prof = hist.filter(expr(train))
      .groupBy(col("lang").as("plang"), col("b"))
      .agg(sum(col("nb")).as("c"))
    val tot = prof.groupBy("plang").agg(sum(col("c")).as("tot"))
    val w = prof.join(broadcast(tot), "plang")
      .select(col("plang"), col("b"),
        expr(s"(c + 1) * 1000000000L DIV (tot + $NGramB)").as("w"))
    val sc = hist.filter(expr(eval)).crossJoin(broadcast(tot))
      .join(broadcast(w), Seq("plang", "b"), "left")
      .groupBy("doc_id", "lang", "plang")
      .agg(sum(col("nb") *
        coalesce(col("w"),
          expr(s"1000000000L DIV (tot + $NGramB)"))).as("score"))
    sc.groupBy("doc_id", "lang")
      .agg(max(struct(col("score"), col("plang"))).as("m"))
      .select(col("lang").as("lang_declared"),
        col("m.plang").as("lang_pred"))
      .groupBy("lang_declared", "lang_pred")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang_declared", "lang_pred")
  }

  /** Stopword-hit boost per hit on the 1e-12 ln lattice: each hit
    * multiplies the candidate's likelihood by e² — strong enough to
    * carry a decision when the n-gram margins are flat, weak enough
    * never to override a confident n-gram verdict (the real-snippet
    * fixture's minimum n-gram margin is ~9e12 ≈ 4.5 hits).
    */
  private[graft] val StopBoostLat12 = 2000000000000L
  /** Abstain threshold: top-two margin under ln-ratio e → 'und'. */
  private[graft] val AbstainLat12 = 1000000000000L

  /** T189 production language router — [[langConfusion]]'s n-gram
    * model in the LOG domain (naive-Bayes: score = Σ nb·ln ŵ, on the
    * engine-exact lnLat12 lattice) interpolated with the T89 stopword
    * prior as an additive integer boost, plus the abstain flag.
    * Parameterized by train/eval slices so the spec can self-score
    * fixtures while the declared query keeps the q278 split.
    */
  private[graft] def langRouter(s: org.apache.spark.sql.SparkSession,
      d: String, train: String, eval: String)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.FixedLog
    import graft.text.TextFunctions
    val hist = ngramHist(s, d)
    val prof = hist.filter(expr(train))
      .groupBy(col("lang").as("plang"), col("b"))
      .agg(sum(col("nb")).as("c"))
    val tot = prof.groupBy("plang").agg(sum(col("c")).as("tot"))
    // model-sized ln-lattice weights (langs × 4096) + per-lang unseen
    // default — the lnLat12 folds never touch a corpus row
    val lnw = prof.join(broadcast(tot), "plang")
      .select(col("plang"), col("b"),
        FixedLog.lnLat12(col("c") + 1, col("tot") + NGramB).as("lnw"))
    val lnw0 = tot.select(col("plang"),
      FixedLog.lnLat12(lit(1L), col("tot") + NGramB).as("lnw0"))
    val ng = hist.filter(expr(eval))
      .crossJoin(broadcast(lnw0))
      .join(broadcast(lnw), Seq("plang", "b"), "left")
      .groupBy("doc_id", "lang", "plang")
      .agg(sum(col("nb") * coalesce(col("lnw"), col("lnw0"))).as("ng"))
    // the stopword prior, long-form: (doc, list-language, hits) —
    // a narrow per-row map; languages outside the lists boost 0
    val hitsArr = array(TextFunctions.LangStopwords.map {
      case (lg, st) =>
        struct(lit(lg).as("plang"),
          size(filter(TextFunctions.words(lower(col("text"))),
            w => w.isin(st: _*))).cast("long").as("hits"))
    }: _*)
    val hits = table(s, d, "documents")
      .filter(expr("char_length(text) >= 3"))
      .select(col("doc_id"), explode(hitsArr).as("h"))
      .select(col("doc_id"), col("h.plang").as("plang"),
        col("h.hits").as("hits"))
    val scored = ng.join(hits, Seq("doc_id", "plang"), "left")
      .select(col("doc_id"), col("lang"), col("plang"),
        (col("ng") + lit(StopBoostLat12) *
          coalesce(col("hits"), lit(0L))).as("score"))
    // margin verdict: candidates sorted desc, abstain under the margin
    // (a single-profile model has no margin evidence → abstains too).
    // try_element_at, not element_at, for the runner-up: under ANSI
    // mode an out-of-bounds element_at THROWS, so a degenerate corpus
    // whose train slice yields one language profile would crash here
    // instead of abstaining; try_element_at yields NULL, the margin
    // comparison yields NULL, and the CASE falls through to 'und' —
    // exactly the DuckDB twin's arr[2] semantics (ADVICE r15).
    val ranked = scored.groupBy("doc_id", "lang")
      .agg(reverse(array_sort(
        collect_list(struct(col("score"), col("plang"))))).as("arr"))
      .select(col("lang").as("lang_declared"),
        when(element_at(col("arr"), 1).getField("score") -
            try_element_at(col("arr"), lit(2)).getField("score") >=
            AbstainLat12,
          element_at(col("arr"), 1).getField("plang"))
          .otherwise(lit("und")).as("lang_pred"))
    ranked.groupBy("lang_declared", "lang_pred")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang_declared", "lang_pred")
  }

  /** The DuckDB twin of [[langRouter]]. */
  private def langRouterSql(train: String, eval: String): String = {
    import graft.text.TextFunctions
    val hitsBranches = TextFunctions.LangStopwords.map {
      case (lg, st) =>
        s"""SELECT doc_id, '$lg' AS plang,
           CAST(len(list_filter(ws, x -> x IN (${st.map(x => s"'$x'")
          .mkString(", ")}))) AS BIGINT) AS hits FROM hw"""
    }.mkString("\n        UNION ALL ")
    s"""WITH cs AS (SELECT doc_id, lang,
          list_transform(range(1, length(text) + 1),
            i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))
            AS cs
        FROM documents WHERE length(text) >= 3),
      g AS (SELECT doc_id, lang,
          unnest(list_transform(range(1, length(cs) - 1),
            i -> ((cs[CAST(i AS INT)] * 31 + cs[CAST(i + 1 AS INT)]) * 31
              + cs[CAST(i + 2 AS INT)]) % ${graft.ops.Hashing.P}
              % $NGramB)) AS b
        FROM cs),
      hist AS (SELECT doc_id, lang, b, CAST(COUNT(*) AS BIGINT) AS nb
        FROM g GROUP BY doc_id, lang, b),
      prof AS (SELECT lang AS plang, b, CAST(SUM(nb) AS BIGINT) AS c
        FROM hist WHERE $train GROUP BY lang, b),
      tot AS (SELECT plang, CAST(SUM(c) AS BIGINT) AS tot
        FROM prof GROUP BY plang),
      w AS (SELECT prof.plang, prof.b,
          ${graft.functions.FixedLog.lnLat12Sql("(prof.c + 1)",
        s"(t.tot + $NGramB)")} AS lnw
        FROM prof JOIN tot t USING (plang)),
      w0 AS (SELECT plang,
          ${graft.functions.FixedLog.lnLat12Sql("1",
        s"(tot + $NGramB)")} AS lnw0
        FROM tot),
      ng AS (SELECT h.doc_id, h.lang, t.plang,
          CAST(SUM(h.nb * COALESCE(w.lnw, t.lnw0)) AS BIGINT) AS ng
        FROM hist h CROSS JOIN w0 t
          LEFT JOIN w ON w.plang = t.plang AND w.b = h.b
        WHERE $eval
        GROUP BY h.doc_id, h.lang, t.plang),
      hw AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+')
          AS ws
        FROM documents WHERE length(text) >= 3),
      hts AS ($hitsBranches),
      sc AS (SELECT ng.doc_id, ng.lang, ng.plang,
          ng.ng + $StopBoostLat12 * COALESCE(h.hits, 0) AS score
        FROM ng LEFT JOIN hts h
          ON h.doc_id = ng.doc_id AND h.plang = ng.plang),
      rk AS (SELECT doc_id, lang,
          list_reverse_sort(list({'score': score, 'plang': plang}))
            AS arr
        FROM sc GROUP BY doc_id, lang),
      prd AS (SELECT lang,
          CASE WHEN arr[1]['score'] - arr[2]['score'] >= $AbstainLat12
            THEN arr[1]['plang'] ELSE 'und' END AS pred
        FROM rk)
      SELECT lang AS lang_declared, pred AS lang_pred,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM prd GROUP BY 1, 2 ORDER BY 1, 2"""
  }
}
