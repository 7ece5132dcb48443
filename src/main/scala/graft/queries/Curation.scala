package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import Common._
import graft.ops.Hashing
import graft.ops.Hashing.hash32
import graft.text.TextFunctions._

/** Round-6 curation wave (SURVEY §2.7 T59–T63): data-driven domain
  * selection (DSIR), exact substring-level dedup (the Lee et al. 2021
  * "Deduplicating Training Data" shape), a deterministic spectral
  * projection for diversity mining, snapshot-precedence dedup, and a
  * classifier calibration sweep on the RunningTotal operator.
  *
  * Scale discipline shared by the file: model/feature tables are
  * bounded (1024 buckets, 64 dims, one row per distinct score) and
  * broadcast; the corpus is only ever scanned by narrow maps or
  * shuffled as fixed-width hashes — never as text or vectors.
  */
object Curation {

  private val B = 1024 // hashed-feature buckets (DSIR + classifier)
  private val W = 8    // substring-dedup window, in tokens

  // DuckDB twins of the shingle/minhash pipeline (same as TextOps's
  // private copies — the oracle strings are per-file by precedent)
  private val P = Hashing.P
  private val sqlWords = """regexp_split_to_array(text, '\s+')"""
  private def sqlShingles(ws: String) =
    s"list_distinct(list_transform(range(1, len($ws)-1), i -> array_to_string(($ws)[i:i+2], ' ')))"
  private def sqlMinhash(sh: String, j: Int) =
    s"list_min(list_transform($sh, s -> (CAST('0x' || substr(md5(s),1,8) AS BIGINT) % $P * ${Hashing.HashA(j)} + ${Hashing.HashB(j)}) % $P))"

  /** q150 and its Bloom-gated variant q162 compute the SAME result
    * (Bloom positives are verified exactly by the semi-join; no false
    * negatives), so they share one oracle.
    */
  private val substringDedupSql =
    s"""WITH t AS (SELECT doc_id,
          regexp_split_to_array(text, '\\s+') AS ws FROM documents),
      tt AS (SELECT doc_id, ws, len(ws) AS n FROM t WHERE len(ws) >= $W),
      w AS (SELECT doc_id,
          CAST('0x' || substr(md5(array_to_string(
            ws[CAST(i AS INT):CAST(i + ${W - 1} AS INT)], ' ')), 1, 8)
            AS BIGINT) AS wh
        FROM tt, LATERAL (SELECT unnest(generate_series(1, n - ${W - 1}))
          AS i) g),
      dup AS (SELECT wh FROM w GROUP BY wh
        HAVING COUNT(DISTINCT doc_id) > 1),
      pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
        FROM w JOIN dup USING (wh) GROUP BY doc_id)
      SELECT tt.doc_id, CAST(tt.n - ${W - 1} AS BIGINT) AS n_windows,
        pd.n_dup
      FROM tt JOIN pd USING (doc_id)
      ORDER BY n_dup DESC, doc_id LIMIT 100"""

  val qs: Seq[Q] = Seq(
    Q("q149_dsir_weights",
      "DSIR-style importance weights: hashed-unigram LMs (1024 buckets) " +
        "fit on the target domain (lang=en) and on the raw pool; each " +
        "doc scores avg log(p_target/p_raw) over its token buckets — " +
        "the data-selection primitive behind importance resampling",
      Some(s"""WITH toks AS (SELECT doc_id, lang,
            regexp_split_to_array(text, '\\s+') AS ws FROM documents),
        tok AS (SELECT doc_id, lang,
            unnest(list_transform(ws, t ->
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(range(1, length(t)+1),
                  i -> CAST(ascii(substr(t, CAST(i AS INT), 1)) AS BIGINT))),
                (a, b) -> (a*31 + b) % ${Hashing.P}) % $B)) AS b
          FROM toks),
        ct AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM tok
          WHERE lang = 'en' GROUP BY b),
        cr AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM tok GROUP BY b),
        tot AS (SELECT
            CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nt,
            CAST(COUNT(*) AS BIGINT) AS nr FROM tok),
        lrn AS (SELECT cr.b,
            (COALESCE(ct.ct, 0) + 1) * (t.nr + $B) AS lnum,
            (cr.cr + 1) * (t.nt + $B) AS lden
          FROM cr LEFT JOIN ct ON cr.b = ct.b CROSS JOIN tot t),
        lr AS (SELECT b,
            ${graft.functions.FixedLog.lnLat12Sql("lnum", "lden")} AS lr
          FROM lrn),
        agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
            CAST(SUM(CAST(l.lr AS HUGEINT)) AS DECIMAL(38,0)) AS slr
          FROM tok JOIN lr l ON tok.b = l.b GROUP BY doc_id)
        SELECT doc_id, n_tokens,
          CAST(slr AS DOUBLE) /
            CAST(n_tokens * 1000000000000 AS DOUBLE) AS dsir_weight
        FROM agg ORDER BY dsir_weight DESC, doc_id LIMIT 50"""),
      (s, d) => {
        // Importance resampling needs two n-gram LMs over the SAME
        // hashed feature space (Xie et al., DSIR) — here T42's
        // fingerprint buckets, so the classifier and the sampler share
        // one feature definition. The corpus is tokenized+hashed ONCE
        // (the codegen'd rolling hash — measured ~an-order cheaper
        // than per-token md5) and exchanged once, as per-doc bucket
        // HISTOGRAMS (≤min(tokens,1024) rows/doc); both the model fit
        // and the scoring read that one exchange (ReuseExchange), so
        // everything downstream is histogram/model-sized. At 100 TB
        // the model is still one 1024-row broadcast. Determinism
        // (round-7 structural): the log-ratio rides FixedLog.lnLat12 —
        // the engine-exact integer digit algorithm — over the exactly-
        // computed rational (integer counts; the 100 TB variant moves
        // the products onto a decimal lattice first), evaluated only
        // on the 1024-row model frame. score = Σ n_db·lr_lat[b] in
        // DECIMAL(38,0); the emitted weight is one decimal→double
        // cast + one IEEE division, both correctly rounded in both
        // engines — NO transcendental and NO round-on-double anywhere.
        val hist = table(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            explode(graft.functions.HashedBuckets(s, col("text"))).as("b"))
          .groupBy(col("doc_id"), col("lang"), col("b"))
          .agg(count(lit(1)).as("nb"))
        val bc = hist.groupBy("b").agg(sum(col("nb")).as("cr"),
          coalesce(sum(when(col("lang") === "en", col("nb"))), lit(0L))
            .as("ct"))
        val tot = bc.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
        val lr = bc.crossJoin(broadcast(tot))
          .select(col("b"), graft.functions.FixedLog.lnLat12(
            (col("ct") + 1) * (col("nr") + B),
            (col("cr") + 1) * (col("nt") + B)).as("lr"))
        hist.join(broadcast(lr), Seq("b"))
          .groupBy("doc_id")
          .agg(sum(col("nb")).as("n_tokens"),
            sum(col("nb").cast(DecimalType(25, 0)) * col("lr")).as("slr"))
          .select(col("doc_id"), col("n_tokens"),
            (col("slr").cast("double") /
              (col("n_tokens") * lit(1000000000000L)).cast("double"))
              .as("dsir_weight"))
          .orderBy(col("dsir_weight").desc, col("doc_id")).limit(50)
      }),

    Q("q150_substring_dedup",
      s"exact substring-level dedup: every $W-token sliding window " +
        "rolls to a 32-bit hash; windows whose hash occurs in >1 " +
        "distinct doc mark duplicated spans — per-doc duplicated-window " +
        "counts for the 100 most contaminated docs",
      Some(substringDedupSql),
      (s, d) => {
        // The suffix-array-free version of Lee et al.'s exact substring
        // dedup: the honest cost floor is one row PER TOKEN POSITION,
        // but that row is an 8-byte hash — text never shuffles, and the
        // window generation is a narrow codegen'd map (sequence →
        // slice → concat_ws → md5). The two shuffles (hash groupBy +
        // semi-join back) are both on that fixed-width column; at
        // 100 TB the groupBy partial-aggregates repeated windows
        // map-side and a Bloom gate (q107's operator) can pre-filter
        // the semi-join probe.
        val t = table(s, d, "documents")
          .select(col("doc_id"), words(col("text")).as("ws"))
          .filter(size(col("ws")) >= W)
        // localCheckpoint: the window frame feeds two consumers (the
        // dup-hash build and the semi-join probe) and a plain shared
        // subtree does NOT get ReuseExchange'd here — Catalyst pushes
        // the semi join below any repartition barrier, so the two
        // subtrees differ and the corpus would be tokenized+md5'd
        // twice. Materializing the (id, hash) rows once (the q144
        // wf-checkpoint pattern) halves the dominant narrow stage;
        // AQE still broadcasts the dup side off runtime stats.
        val wins = Common.checkpointSer(t.select(col("doc_id"),
          explode(windowHashes(col("ws"), W)).as("wh")))
        val dup = wins.groupBy("wh")
          // min != max is exactly countDistinct > 1 without the
          // two-phase distinct expansion (r16)
          .agg(min("doc_id").as("d0"), max("doc_id").as("d1"))
          .filter(col("d0") =!= col("d1")).select("wh")
        val perDoc = wins.join(dup, Seq("wh"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
        t.select(col("doc_id"),
            (size(col("ws")) - (W - 1)).cast("long").as("n_windows"))
          .join(perDoc, Seq("doc_id"))
          .orderBy(col("n_dup").desc, col("doc_id")).limit(100)
      }),

    Q("q151_principal_projection",
      "top principal direction by unrolled power iteration on the " +
        "integer lattice (Gram matrix → 2 exact matvec rounds → " +
        "per-vector projection): the deterministic PCA step behind " +
        "spectral diversity mining — 20 most extreme vectors",
      Some(s"""WITH v AS (SELECT vec_id, label,
            ${graft.similarity.Vectors.latticizeSql(
              "CAST(embedding AS DOUBLE[])")} AS el FROM embeddings),
        p AS (SELECT i.i AS di, j.j AS dj,
            el[CAST(i.i + 1 AS INT)] * el[CAST(j.j + 1 AS INT)] AS p
          FROM v, range(0, 64) i(i), range(0, 64) j(j) WHERE j.j >= i.i),
        gut AS (SELECT di, dj, CAST(SUM(p) AS BIGINT) AS glat
          FROM p GROUP BY di, dj),
        g2 AS (SELECT di, dj,
            CAST((CASE WHEN glat < 0 THEN -1 ELSE 1 END) *
              ((abs(glat) + 500000) // 1000000) AS BIGINT) AS g
          FROM gut),
        gf AS (SELECT di, dj, g FROM g2
          UNION ALL SELECT dj AS di, di AS dj, g FROM g2 WHERE di <> dj),
        v1 AS (SELECT di AS i, CAST(SUM(g) AS BIGINT) AS x1
          FROM gf GROUP BY di),
        v2 AS (SELECT gf.di AS i,
            CAST(SUM(CAST(gf.g AS HUGEINT) * v1.x1) AS HUGEINT) AS x2
          FROM gf JOIN v1 ON gf.dj = v1.i GROUP BY gf.di),
        proj AS (SELECT v.vec_id, v.label,
            CAST(SUM(CAST(el[CAST(dm.i + 1 AS INT)] AS HUGEINT) * v2.x2)
              AS DECIMAL(38,0)) AS proj
          FROM v, range(0, 64) dm(i) JOIN v2 ON dm.i = v2.i
          GROUP BY v.vec_id, v.label),
        sel AS (SELECT vec_id, label, proj AS exact_proj FROM proj
          ORDER BY abs(proj) DESC, vec_id LIMIT 20)
        SELECT vec_id, label,
          CAST((CASE WHEN exact_proj < 0 THEN -1 ELSE 1 END) *
            CAST(abs(CAST(exact_proj AS HUGEINT)) // 1000000 AS BIGINT)
            AS BIGINT) AS proj
        FROM sel ORDER BY abs(exact_proj) DESC, vec_id"""),
      (s, d) => {
        // Power iteration without a driver: the Gram pass is the ONE
        // corpus-sized job (GramMatrixAgg — a single ~16 KB state row
        // per map partition, q142's flat-shuffle story); both matvec
        // rounds run on the 64×64 lattice frame and every later join
        // side is broadcast-bounded (≤4096 rows). Round-7 structural
        // determinism fix: the ONLY double→integer step is the entry
        // quantization el = latticize(e) (floor/ceil on the binary
        // double — exact IEEE ops, bit-identical in both engines;
        // see Vectors.latticize for why round() is not safe), and
        // everything after — Gram products, the 1e12→1e6 rescale
        // (half-away-from-zero via exact integer (abs+500000) div 1e6,
        // sign-split so truncating and flooring division agree), both
        // matvecs in DECIMAL(38,0), the projection fold — is pure
        // integer arithmetic, the same trick as q143's integer
        // PageRank, so the output cannot drift across engines or
        // testdata instances. Two rounds of G·1 suffice for a
        // selection direction (documented, like q144's unrolled BPE
        // rounds); more rounds would renormalize on the lattice
        // between steps. The per-vector projection is a zero-shuffle
        // narrow fold: v2 rides in as ONE broadcast array row,
        // zip_with/aggregate keep it inside codegen.
        val v = table(s, d, "embeddings")
          .select(col("vec_id"), col("label"),
            graft.similarity.Vectors.latticize(
              col("embedding").cast("array<double>")).as("el"))
        val gm = v
          .agg(graft.functions.GramMatrixAgg.gram(s, col("el"), 64).as("gm"))
          .select(explode(col("gm.g")).as("x"))
          .select(col("x.di").as("di"), col("x.dj").as("dj"),
            expr("CAST((CASE WHEN x.s < 0 THEN -1 ELSE 1 END) * " +
              "((abs(x.s) + 500000L) DIV 1000000L) AS BIGINT)").as("g"))
        val gf = gm.union(gm.filter(col("di") =!= col("dj"))
          .select(col("dj").as("di"), col("di").as("dj"), col("g")))
        val v1 = gf.groupBy("di").agg(sum(col("g")).as("x1"))
          .select(col("di").as("j"), col("x1"))
        val v2 = gf.join(broadcast(v1), col("dj") === col("j"))
          .groupBy("di")
          .agg(sum(col("g").cast(DecimalType(38, 0)) * col("x1")).as("x2"))
        // v2 as one ordered array row (64 entries — bounded by dims)
        val v2arr = v2
          .agg(array_sort(collect_list(struct(col("di"), col("x2")))).as("sx"))
          .select(transform(col("sx"), x => x.getField("x2")).as("pc"))
        v.crossJoin(broadcast(v2arr))
          .select(col("vec_id"), col("label"),
            aggregate(
              zip_with(
                transform(col("el"), x => x.cast(DecimalType(38, 0))),
                col("pc"), (a, b) => a * b),
              lit(0).cast(DecimalType(38, 0)),
              (acc, x) => (acc + x).cast(DecimalType(38, 0)))
              .as("proj"))
          .orderBy(abs(col("proj")).desc, col("vec_id")).limit(20)
          // Emission (round 8, VERDICT-r7 item 1): the selection and
          // ordering above run on the EXACT decimal(38,0) value, but
          // the emitted column rescales to an int64-representable
          // lattice (exact sign-split integer division by 1e6 —
          // truncating and flooring agree on the non-negative abs;
          // oracle side divides in HUGEINT because DuckDB's // on a
          // DECIMAL operand routes through double and misrounds by
          // 1 at this magnitude — measured, off-by-one at 2e20). A
          // decimal128 parquet column is hasher-hazardous driver-side
          // (pyarrow Decimal vs DuckDB HUGEINT stringify) and q151 was
          // the surface's ONLY decimal-emitting query — the
          // DeterminismGateSpec output-schema gate now bans the type
          // at every boundary.
          //
          // Ordering key (ADVICE-r8 medium): the FINAL sort runs on the
          // exact decimal value on BOTH sides, never on the rescaled
          // BIGINT — two top-20 rows that truncate to the same |proj|
          // on the 1e6 lattice but differ in exact value would
          // otherwise order differently per engine, data-dependently
          // (the oracle's outer ORDER BY binds the inner exact column;
          // here the rescaled output is projected AFTER the exact-key
          // sort, which adds no exchange and preserves row order).
          .select(col("vec_id"), col("label"), col("proj").as("exact_proj"),
            expr("CAST((CASE WHEN proj < 0 THEN -1 ELSE 1 END) * " +
              "(abs(proj) DIV 1000000L) AS BIGINT)").as("proj_out"))
          .orderBy(abs(col("exact_proj")).desc, col("vec_id"))
          .select(col("vec_id"), col("label"), col("proj_out").as("proj"))
      }),

    Q("q152_precedence_dedup",
      "snapshot-precedence dedup: docs sharing an 8-token prefix digest " +
        "collapse to the copy from the lowest-indexed source (earliest " +
        "snapshot wins, doc_id tiebreak); output = survivorship matrix " +
        "kept_source × dropped_source",
      Some("""WITH g AS (SELECT doc_id, source,
            CAST(substr(source, 4) AS INT) AS prio,
            md5(array_to_string(
              regexp_split_to_array(text, '\s+')[1:8], ' ')) AS dg
          FROM documents),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY dg
            ORDER BY prio, doc_id) AS rn FROM g),
        k AS (SELECT dg, source AS kept_source FROM r WHERE rn = 1)
        SELECT k.kept_source, r.source AS dropped_source,
          CAST(COUNT(*) AS BIGINT) AS n_dropped
        FROM r JOIN k ON r.dg = k.dg WHERE r.rn > 1
        GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, d) => {
        // The CommonCrawl-style cross-snapshot rule: content seen in an
        // earlier dump wins; later copies drop, and the survivorship
        // matrix is the audit artifact (which snapshot pairs actually
        // collide). One shuffle on the 16-byte digest; the row_number
        // tier is the same partitioned-top-1 shape the TopK strategy
        // heaps — no per-group sort materializes the full groups.
        val g = table(s, d, "documents")
          .select(col("doc_id"), col("source"),
            // substr-to-END (no length cap) to parse the identical
            // suffix as the oracle's substr(source, 4) — a fixed length
            // would silently diverge on suffixes longer than the cap
            expr("substr(source, 4)").cast("int").as("prio"),
            md5(encode(concat_ws(" ", slice(words(col("text")), 1, 8)),
              "UTF-8")).as("dg"))
        val r = g.withColumn("rn", row_number().over(
          Window.partitionBy("dg").orderBy(col("prio"), col("doc_id"))))
        val k = r.filter(col("rn") === 1)
          .select(col("dg"), col("source").as("kept_source"))
        r.filter(col("rn") > 1)
          .select(col("dg"), col("source").as("dropped_source"))
          .join(k, Seq("dg"))
          .groupBy("kept_source", "dropped_source")
          .agg(count(lit(1)).as("n_dropped"))
          .orderBy("kept_source", "dropped_source")
      }),

    Q("q153_roc_sweep",
      "classifier calibration sweep: q131's hashed linear scorer vs " +
        "the lang=en weak label — per-distinct-score cumulative TP/FP " +
        "(a full ROC/PR curve in one pass) via the global RunningTotal " +
        "operator",
      Some(s"""WITH toks AS (SELECT doc_id, lang,
            regexp_split_to_array(text, '\\s+') AS ws FROM documents),
        w AS (SELECT doc_id, lang,
            list_transform(ws, t ->
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(range(1, length(t)+1),
                  i -> CAST(ascii(substr(t, CAST(i AS INT), 1)) AS BIGINT))),
                (a, b) -> (a*31 + b) % ${Hashing.P}) % $B) AS buckets
          FROM toks),
        sc AS (SELECT
            CAST(list_sum(list_transform(buckets, b -> b % 201 - 100))
              AS BIGINT) AS score,
            CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
          FROM w),
        g AS (SELECT score, CAST(SUM(pos) AS BIGINT) AS n_pos,
            CAST(COUNT(*) - SUM(pos) AS BIGINT) AS n_neg
          FROM sc GROUP BY score)
        SELECT score,
          CAST(SUM(n_pos) OVER (ORDER BY score DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_tp,
          CAST(SUM(n_neg) OVER (ORDER BY score DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_fp,
          CAST(SUM(n_pos) OVER (ORDER BY score DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
            / (SUM(n_pos) OVER (ORDER BY score DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               + SUM(n_neg) OVER (ORDER BY score DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
            AS prec
        FROM g ORDER BY score DESC"""),
      (s, d) => {
        // Threshold selection needs the whole precision/recall curve,
        // not one operating point. Scoring is q131's zero-shuffle
        // codegen map; the curve is computed on the per-distinct-score
        // frame (bounded by the score range, NOT the corpus), and the
        // two global running sums plan onto RunningTotalExec via the
        // auto-route — no single-partition WindowExec even though the
        // frame is global. All-integer cumulative counts; the one
        // division per row is IEEE-identical cross-engine.
        val scored = table(s, d, "documents").select(
          graft.functions.HashedScore(s, col("text")).as("score"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        // count() (not sum) so the per-score columns are NON-NULLABLE
        // longs — one of the auto-route's guards (SQL sum over an
        // all-null prefix is NULL; the operator has no null path)
        val byScore = scored.groupBy("score")
          .agg(count(when(col("pos") === 1L, 1)).as("n_pos"),
            count(when(col("pos") === 0L, 1)).as("n_neg"))
        val w = Window.orderBy(col("score").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        byScore.select(col("score"),
            sum(col("n_pos")).over(w).as("cum_tp"),
            sum(col("n_neg")).over(w).as("cum_fp"))
          .withColumn("prec",
            col("cum_tp").cast("double") / (col("cum_tp") + col("cum_fp")))
          .orderBy(col("score").desc)
      }),

    Q("q154_novelty_profile",
      "temporal novelty audit: fraction of each doc's 8-token windows " +
        "whose FIRST corpus occurrence (min doc_id) is the doc itself — " +
        "what an incremental crawl actually adds vs re-crawls",
      Some(s"""WITH t AS (SELECT doc_id,
            regexp_split_to_array(text, '\\s+') AS ws FROM documents),
        tt AS (SELECT doc_id, ws, len(ws) AS n FROM t WHERE len(ws) >= $W),
        w AS (SELECT doc_id,
            CAST('0x' || substr(md5(array_to_string(
              ws[CAST(i AS INT):CAST(i + ${W - 1} AS INT)], ' ')), 1, 8)
              AS BIGINT) AS wh
          FROM tt, LATERAL (SELECT unnest(generate_series(1, n - ${W - 1}))
            AS i) g),
        fs AS (SELECT wh, MIN(doc_id) AS first_doc FROM w GROUP BY wh)
        SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
          CAST(SUM(CASE WHEN fs.first_doc = w.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
          CAST(SUM(CASE WHEN fs.first_doc = w.doc_id THEN 1 ELSE 0 END)
            AS DOUBLE) / COUNT(*) AS novelty
        FROM w JOIN fs USING (wh)
        GROUP BY w.doc_id ORDER BY doc_id"""),
      (s, d) => {
        // q150's window frame with MIN instead of COUNT DISTINCT:
        // first-occurrence attribution makes dedup *incremental* —
        // content is charged to the earliest doc_id (crawl order), so
        // re-crawls score ~0 novelty. min() partial-aggregates
        // map-side; both shuffles carry only (hash, id) pairs.
        val t = table(s, d, "documents")
          .select(col("doc_id"), words(col("text")).as("ws"))
          .filter(size(col("ws")) >= W)
        // localCheckpoint for the same reason as q150: two consumers
        // (first-seen build, attribution probe), no exchange to share
        val wins = Common.checkpointSer(t.select(col("doc_id"),
          explode(windowHashes(col("ws"), W)).as("wh")))
        val firstSeen = wins.groupBy("wh").agg(min("doc_id").as("first_doc"))
        wins.join(firstSeen, Seq("wh"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_windows"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
              .as("n_novel"))
          .withColumn("novelty",
            col("n_novel").cast("double") / col("n_windows"))
          .orderBy("doc_id")
      }),

    Q("q155_epoch_shuffle",
      "deterministic epoch reshuffle: per-epoch global permutation by " +
        "seeded hash order, positions enumerated by the RunningTotal " +
        "operator, every 500th slot sampled with its shard assignment",
      Some("""WITH e AS (SELECT epoch, doc_id,
            CAST('0x' || substr(md5('ep' || CAST(epoch AS VARCHAR) || ':'
              || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS h
          FROM documents, (SELECT unnest([0, 1]) AS epoch) ep),
        p AS (SELECT epoch, doc_id, h,
            ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY h, doc_id)
              AS pos
          FROM e)
        SELECT epoch, pos, doc_id, h % 64 AS shard FROM p
        WHERE pos % 500 = 0 ORDER BY epoch, pos"""),
      (s, d) => {
        // Training wants a DIFFERENT, REPRODUCIBLE permutation per
        // epoch — rand() gives neither. Seeded hash order gives both,
        // and the global position comes from a ROWS running count that
        // the strategy auto-routes onto RunningTotalExec: one range
        // exchange + 32 bounded rows, never a single-task sort (the
        // difference between a working shuffler and a dead one at
        // 100 TB). Each epoch is its own global pass; shard is the
        // hash residue so (epoch, shard) manifests are derivable
        // without another shuffle.
        val base = table(s, d, "documents").select(col("doc_id"))
        Seq(0, 1).map { ep =>
          val framed = base.select(lit(ep).as("epoch"), col("doc_id"),
            hash32(concat(lit(s"ep$ep:"), col("doc_id").cast("string")))
              .as("h"))
          val w = Window.orderBy(col("h"), col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          framed.withColumn("pos", sum(lit(1L)).over(w))
            .filter(col("pos") % 500 === 0)
            .select(col("epoch"), col("pos"), col("doc_id"),
              (col("h") % 64).as("shard"))
        }.reduce(_ unionAll _).orderBy("epoch", "pos")
      }),

    Q("q156_quantile_calibration",
      "cross-source score calibration: q131's quality score cut into " +
        "per-source deciles (ntile over a deterministic total order) — " +
        "the per-(source, decile) count/lo/hi/avg table that tells you " +
        "whether one threshold transfers across sources",
      Some(s"""WITH toks AS (SELECT doc_id, source,
            regexp_split_to_array(text, '\\s+') AS ws FROM documents),
        w AS (SELECT doc_id, source, len(ws) AS n_tokens,
            list_transform(ws, t ->
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(range(1, length(t)+1),
                  i -> CAST(ascii(substr(t, CAST(i AS INT), 1)) AS BIGINT))),
                (a, b) -> (a*31 + b) % ${Hashing.P}) % $B) AS buckets
          FROM toks),
        sc AS (SELECT doc_id, source,
            CAST(list_sum(list_transform(buckets, b -> b % 201 - 100))
              AS DOUBLE) / (100.0 * n_tokens) AS q
          FROM w),
        dec AS (SELECT source, q, NTILE(10) OVER (PARTITION BY source
            ORDER BY q, doc_id) AS decile FROM sc)
        SELECT source, decile, CAST(COUNT(*) AS BIGINT) AS n,
          MIN(q) AS lo, MAX(q) AS hi,
          CAST(SUM(CAST(q AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS avg_q
        FROM dec GROUP BY source, decile ORDER BY source, decile"""),
      (s, d) => {
        // Quality scores are NOT comparable across sources (different
        // length/vocabulary profiles); mixing pipelines filter per
        // source by quantile, not by one global threshold. The decile
        // cut is a KEYED window (per source — parallel across sources
        // at any scale); the tie-broken total order (q, doc_id) makes
        // ntile deterministic in both engines. Per-row q is a single
        // IEEE division of exact integers; the decile avg rides the
        // DECIMAL(30,12) lattice.
        val ws = words(col("text"))
        val sc = table(s, d, "documents").select(col("doc_id"),
          col("source"),
          (graft.functions.HashedScore(s, col("text")).cast("double") /
            (lit(100.0) * size(ws))).as("q"))
        val dec = sc.withColumn("decile", ntile(10).over(
          Window.partitionBy("source").orderBy(col("q"), col("doc_id"))))
        dec.groupBy("source", "decile")
          .agg(count(lit(1)).as("n"), min(col("q")).as("lo"),
            max(col("q")).as("hi"),
            (sum(col("q").cast(DecimalType(30, 12))).cast("double") /
              count(lit(1))).as("avg_q"))
          .orderBy("source", "decile")
      }),

    Q("q157_gopher_filter",
      "Gopher-style composite quality gate: length, mean word length, " +
        "stopword ratio, and distinct-token ratio rules evaluated " +
        "per doc in one narrow pass — per-lang pass counts and " +
        "per-rule failure attribution",
      Some("""WITH t AS (SELECT lang,
            regexp_split_to_array(text, '\s+') AS ws FROM documents),
        r AS (SELECT lang,
            CASE WHEN len(ws) BETWEEN 12 AND 80 THEN 0 ELSE 1 END AS f_len,
            CASE WHEN CAST(list_sum(list_transform(ws, w -> length(w)))
                AS DOUBLE) / len(ws) BETWEEN 3.0 AND 9.0
              THEN 0 ELSE 1 END AS f_awl,
            CASE WHEN CAST(len(list_filter(ws, w -> w IN ('the', 'and',
                'of', 'to', 'in', 'is', 'that', 'for'))) AS DOUBLE)
                / len(ws) >= 0.04 THEN 0 ELSE 1 END AS f_stop,
            CASE WHEN CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)
                >= 0.4 THEN 0 ELSE 1 END AS f_distinct
          FROM t)
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(CASE WHEN f_len + f_awl + f_stop + f_distinct = 0
            THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
          CAST(SUM(f_len) AS BIGINT) AS fail_len,
          CAST(SUM(f_awl) AS BIGINT) AS fail_awl,
          CAST(SUM(f_stop) AS BIGINT) AS fail_stop,
          CAST(SUM(f_distinct) AS BIGINT) AS fail_distinct
        FROM r GROUP BY lang ORDER BY lang"""),
      (s, d) => {
        // The composite document gate every LLM corpus ships (Gopher/
        // C4/RedPajama rules): each rule is an in-row ratio against a
        // constant — zero shuffle until the per-lang rollup, codegen
        // end to end. Failure ATTRIBUTION (per-rule counts, not just
        // pass/fail) is what makes threshold tuning possible. Ratios
        // compare identical IEEE doubles in both engines; the
        // stopword list is the en profile from LangStopwords.
        val ws = words(col("text"))
        val enStops = LangStopwords.toMap.apply("en")
        def flag(pass: Column): Column = when(pass, 0L).otherwise(1L)
        val r = table(s, d, "documents").select(col("lang"),
          flag(size(ws).between(12, 80)).as("f_len"),
          flag(avgWordLen(ws).between(3.0, 9.0)).as("f_awl"),
          flag(stopwordRatio(ws, enStops) >= 0.04).as("f_stop"),
          flag((size(array_distinct(ws)).cast("double") / size(ws)) >= 0.4)
            .as("f_distinct"))
        r.groupBy("lang").agg(count(lit(1)).as("n_docs"),
            sum(when(col("f_len") + col("f_awl") + col("f_stop") +
              col("f_distinct") === 0, 1L).otherwise(0L)).as("n_pass"),
            sum(col("f_len")).as("fail_len"),
            sum(col("f_awl")).as("fail_awl"),
            sum(col("f_stop")).as("fail_stop"),
            sum(col("f_distinct")).as("fail_distinct"))
          .orderBy("lang")
      }),

    Q("q158_cluster_quality_keep",
      "near-dup cluster quality arbitration: LSH candidates → exact " +
        "Jaccard ≥ 0.8 edges → connected components → keep each " +
        "cluster's HIGHEST-quality member (T42 score, doc_id tiebreak) " +
        "— per-cluster keeper + score spread",
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
        comp AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
          FROM reach GROUP BY src),
        qual AS (SELECT doc_id,
            CAST(list_sum(list_transform(
              list_transform(ws, t ->
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(1, length(t)+1),
                    i -> CAST(ascii(substr(t, CAST(i AS INT), 1)) AS BIGINT))),
                  (a, b) -> (a*31 + b) % $P) % $B),
              b -> b % 201 - 100)) AS BIGINT) AS score
          FROM w),
        m AS (SELECT c.cluster_id, c.doc_id, q.score
          FROM comp c JOIN qual q USING (doc_id)),
        sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
            MAX(score) AS best_score, MIN(score) AS worst_score
          FROM m GROUP BY cluster_id),
        keep AS (SELECT cluster_id, doc_id AS keep_id FROM (
            SELECT cluster_id, doc_id, ROW_NUMBER() OVER (
              PARTITION BY cluster_id ORDER BY score DESC, doc_id) AS rn
            FROM m) t WHERE rn = 1)
        SELECT k.cluster_id, k.keep_id, s.n_members, s.best_score,
          s.worst_score
        FROM keep k JOIN sizes s USING (cluster_id)
        ORDER BY cluster_id"""),
      (s, d) => {
        // q87 keeps each cluster's MINIMUM id — the arbitrary-but-
        // deterministic rule. Production pipelines keep the BEST
        // member: same LSH → Jaccard-gate → CC machinery, then the
        // keeper is argmax quality (integer T42 score, doc_id
        // tiebreak) via the partitioned-top-1 shape the TopK strategy
        // heaps. Only ids, band keys, and (id, score) pairs shuffle;
        // scores join AFTER clustering so the quality scan touches
        // the corpus once.
        val docs = table(s, d, "documents")
        val sh = graft.dedup.Dedup.shingleFrame(docs, "doc_id", "text")
        val edges = graft.dedup.Dedup.lshCandidatePairsFromShingles(sh)
          .join(sh.toDF("a_id", "a_sh"), "a_id")
          .join(sh.toDF("b_id", "b_sh"), "b_id")
          .filter(graft.functions.Jaccard(s, col("a_sh"), col("b_sh")) >= 0.8)
          .select("a_id", "b_id")
        val quality = docs.select(col("doc_id"),
          graft.functions.HashedScore(s, col("text")).as("score"))
        val m = graft.dedup.Dedup.dupClusters(edges)
          .join(quality, Seq("doc_id"))
        val stats = m.groupBy("cluster_id")
          .agg(count(lit(1)).as("n_members"), max("score").as("best_score"),
            min("score").as("worst_score"))
        val keep = m.withColumn("rn", row_number().over(
            Window.partitionBy("cluster_id")
              .orderBy(col("score").desc, col("doc_id"))))
          .filter(col("rn") === 1)
          .select(col("cluster_id"), col("doc_id").as("keep_id"))
        keep.join(stats, Seq("cluster_id"))
          .select(col("cluster_id"), col("keep_id"), col("n_members"),
            col("best_score"), col("worst_score"))
          .orderBy("cluster_id")
      }),

    Q("q159_span_removal",
      "exact substring dedup, the EDITING half: duplicated 8-token " +
        "window positions merge into spans per doc; emit removed/kept " +
        "token counts and merged-span counts for the 100 most-trimmed " +
        "docs — what Lee-et-al. dedup actually deletes",
      Some(s"""WITH t AS (SELECT doc_id,
            regexp_split_to_array(text, '\\s+') AS ws FROM documents),
        tt AS (SELECT doc_id, ws, len(ws) AS n FROM t WHERE len(ws) >= $W),
        w AS (SELECT doc_id, i,
            CAST('0x' || substr(md5(array_to_string(
              ws[CAST(i AS INT):CAST(i + ${W - 1} AS INT)], ' ')), 1, 8)
              AS BIGINT) AS wh
          FROM tt, LATERAL (SELECT unnest(generate_series(1, n - ${W - 1}))
            AS i) g),
        dup AS (SELECT wh FROM w GROUP BY wh
          HAVING COUNT(DISTINCT doc_id) > 1),
        st AS (SELECT doc_id, list_sort(list(i)) AS starts
          FROM w JOIN dup USING (wh) GROUP BY doc_id),
        cov AS (SELECT doc_id, list_distinct(flatten(
            list_transform(starts, s -> range(s, s + $W)))) AS covset
          FROM st)
        SELECT tt.doc_id, CAST(tt.n AS BIGINT) AS n_tokens,
          CAST(len(covset) AS BIGINT) AS removed_tokens,
          CAST(tt.n - len(covset) AS BIGINT) AS kept_tokens,
          CAST(len(list_filter(covset,
            p -> NOT list_contains(covset, p - 1))) AS BIGINT) AS n_spans
        FROM cov JOIN tt USING (doc_id)
        ORDER BY removed_tokens DESC, doc_id LIMIT 100"""),
      (s, d) => {
        // q150 says WHICH docs are contaminated; this says what the
        // cleaner would cut. Duplicate window starts collect per doc
        // (ids + 4-byte positions — still no text on the wire), then
        // span merging is pure in-row array algebra: expand each start
        // to its covered positions, distinct, and count span heads
        // (covered p with p-1 uncovered). O(spans²) per doc via
        // array_contains — fine to ~1e3 dup windows/doc; beyond that
        // the sorted-fold form replaces it.
        val t = table(s, d, "documents")
          .select(col("doc_id"), words(col("text")).as("ws"))
          .filter(size(col("ws")) >= W)
        // localCheckpoint: dup-hash build + position probe, as in q150
        val wins = Common.checkpointSer(t.select(col("doc_id"),
          posexplode(windowHashes(col("ws"), W)).as(Seq("p0", "wh")))
          .select(col("doc_id"), (col("p0") + 1).as("i"), col("wh")))
        val dup = wins.groupBy("wh")
          // min != max is exactly countDistinct > 1 without the
          // two-phase distinct expansion (r16)
          .agg(min("doc_id").as("d0"), max("doc_id").as("d1"))
          .filter(col("d0") =!= col("d1")).select("wh")
        val st = wins.join(dup, Seq("wh"), "left_semi")
          .groupBy("doc_id").agg(array_sort(collect_list(col("i"))).as("starts"))
        val cov = st.select(col("doc_id"),
          array_distinct(flatten(transform(col("starts"),
            x => sequence(x, x + (W - 1))))).as("covset"))
        cov.join(t.select(col("doc_id"), size(col("ws")).cast("long")
            .as("n_tokens")), Seq("doc_id"))
          .select(col("doc_id"), col("n_tokens"),
            size(col("covset")).cast("long").as("removed_tokens"),
            (col("n_tokens") - size(col("covset"))).as("kept_tokens"),
            size(filter(col("covset"),
              p => !array_contains(col("covset"), p - 1))).cast("long")
              .as("n_spans"))
          .orderBy(col("removed_tokens").desc, col("doc_id")).limit(100)
      }),

    Q("q160_vocab_coverage",
      "vocabulary coverage knee: word types in descending frequency " +
        "order, cumulative token mass AND type rank as two parallel " +
        "running sums on the RunningTotal operator — how many types " +
        "cover 50/90/99% of all tokens",
      Some("""WITH u AS (SELECT unnest(regexp_split_to_array(text, '\s+'))
            AS w FROM documents),
        c AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM u GROUP BY w),
        o AS (SELECT w, cnt,
            CAST(SUM(cnt) OVER (ORDER BY cnt DESC, w ROWS BETWEEN
              UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
            ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS rank FROM c),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
        thr AS (SELECT CAST(unnest([5000, 9000, 9900]) AS BIGINT) AS bp)
        SELECT bp, MIN(rank) AS n_types, t.total AS total_tokens
        FROM thr, o CROSS JOIN tot t
        WHERE cum * 10000 >= bp * t.total
        GROUP BY bp, t.total ORDER BY bp"""),
      (s, d) => {
        // The tokenizer-budget question ("how big must the vocab be")
        // as one pass: the type table is vocab-sized (corpus tokens
        // partial-aggregate map-side), and BOTH running columns —
        // cumulative mass and rank — ride a single generalized
        // RunningTotal window over (cnt DESC, w). Threshold compare
        // is exact integer cross-multiplication, no division anywhere.
        val c = table(s, d, "documents")
          .select(explode(words(col("text"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("cnt"))
        val wdw = Window.orderBy(col("cnt").desc, col("w"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val o = c.select(col("cnt"),
          sum(col("cnt")).over(wdw).as("cum"),
          sum(lit(1L)).over(wdw).as("rank"))
        val tot = c.agg(sum(col("cnt")).as("total"))
        val thr = s.range(1).select(explode(array(lit(5000L), lit(9000L),
          lit(9900L))).as("bp"))
        o.crossJoin(broadcast(thr)).crossJoin(broadcast(tot))
          .filter(col("cum") * 10000 >= col("bp") * col("total"))
          .groupBy("bp", "total")
          .agg(min(col("rank")).as("n_types"))
          .select(col("bp"), col("n_types"), col("total").as("total_tokens"))
          .orderBy("bp")
      }),

    Q("q161_source_leakage",
      "cross-source leakage matrix: for every source pair, how many " +
        "distinct 8-token windows they share — the shard-level view of " +
        "q150's contamination",
      Some(s"""WITH t AS (SELECT doc_id, source,
            regexp_split_to_array(text, '\\s+') AS ws FROM documents),
        tt AS (SELECT doc_id, source, ws, len(ws) AS n FROM t
          WHERE len(ws) >= $W),
        w AS (SELECT source,
            CAST('0x' || substr(md5(array_to_string(
              ws[CAST(i AS INT):CAST(i + ${W - 1} AS INT)], ' ')), 1, 8)
              AS BIGINT) AS wh
          FROM tt, LATERAL (SELECT unnest(generate_series(1, n - ${W - 1}))
            AS i) g),
        sw AS (SELECT DISTINCT source, wh FROM w)
        SELECT a.source AS source_a, b.source AS source_b,
          CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM sw a JOIN sw b ON a.wh = b.wh AND a.source < b.source
        GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, d) => {
        // Leakage between SHARDS decides where dedup effort goes. The
        // (source, window-hash) frame map-side-distincts before the
        // self-join, so join input is bounded by distinct windows ×
        // sources and the output by sources² — the matrix, not the
        // corpus. Same honest window floor as q150 underneath.
        val sw = table(s, d, "documents")
          .select(col("source"), words(col("text")).as("ws"))
          .filter(size(col("ws")) >= W)
          .select(col("source"), explode(windowHashes(col("ws"), W)).as("wh"))
          .distinct()
        sw.toDF("source_a", "wh")
          .join(sw.toDF("source_b", "wh"), "wh")
          .filter(col("source_a") < col("source_b"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_shared"))
          .orderBy("source_a", "source_b")
      }),

    Q("q162_substring_dedup_bloom",
      s"q150's exact substring dedup with the Bloom probe gate wired " +
        "in (VERDICT r6 item 5): the dup-hash side builds a bounded " +
        "Bloom sketch, and the corpus-sized window stream filters on " +
        "mightContain BEFORE the semi-join shuffle — definite " +
        "negatives (the overwhelming bulk at production dup rates) " +
        "never leave their scan tasks; Bloom positives are verified " +
        "exactly by the semi-join, so the result is IDENTICAL to q150 " +
        "(no false negatives) and the two queries share one oracle",
      Some(substringDedupSql),
      (s, d) => {
        // q150's honest floor is one 8-byte hash row per token
        // position through TWO shuffles (dup-hash groupBy + semi-join
        // probe). The groupBy is irreducible (it DEFINES duplication);
        // this variant removes the second corpus-sized shuffle: the
        // ~1-bit-per-hash sketch rides to the probe as a scalar
        // subquery (never collected, never a task-binary literal) and
        // the narrow mightContain filter drops non-duplicated windows
        // at the scan. Probe shuffle mass goes from ALL windows to
        // dup-rate + FP-rate — the r12 probe row in BASELINE.md
        // measures the reduction. The dup frame is checkpointed: it
        // feeds both the sketch build and the exact verify join, and
        // is bounded by distinct duplicated hashes (<< corpus).
        val t = table(s, d, "documents")
          .select(col("doc_id"), words(col("text")).as("ws"))
          .filter(size(col("ws")) >= W)
        val wins = Common.checkpointSer(t.select(col("doc_id"),
          explode(windowHashes(col("ws"), W)).as("wh")))
        val dup = wins.groupBy("wh")
          // min != max is exactly countDistinct > 1 without the
          // two-phase distinct expansion (r16)
          .agg(min("doc_id").as("d0"), max("doc_id").as("d1"))
          .filter(col("d0") =!= col("d1")).select("wh")
          .localCheckpoint()
        val sk = graft.functions.BloomGate.sketch(dup, col("wh"),
          expectedItems = 1L << 16, numBits = 1L << 20)
        val gated = wins.filter(
          graft.functions.BloomGate.mightContain(sk, col("wh"),
            tag = "q162_dupwin"))
        val perDoc = gated.join(dup, Seq("wh"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
        t.select(col("doc_id"),
            (size(col("ws")) - (W - 1)).cast("long").as("n_windows"))
          .join(perDoc, Seq("doc_id"))
          .orderBy(col("n_dup").desc, col("doc_id")).limit(100)
      })
  )
}
