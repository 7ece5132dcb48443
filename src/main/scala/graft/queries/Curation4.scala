package graft.queries

import org.apache.spark.sql.functions._

import Common._
import graft.dedup.Dedup
import graft.ops.Hashing

/** Round-9 curation wave (T105-T108): the corpus-statistics operators a
  * training-data pipeline runs BEFORE committing a 100 TB sweep config
  * — per-document novelty against the accumulated corpus, the token
  * frequency spectrum (the Good-Turing dial), byte-level UTF-8 triage,
  * and the vocabulary-growth (Heaps) curve. All four keep the shuffle
  * keyed on tokens/shingle-hashes (map-side combinable) with bounded or
  * doc-sized outputs; none shuffles text or payload bytes.
  */
object Curation4 {

  import Common.{sqlWords, sqlHash32}

  /** (doc_id, v) — UNCAPPED winnowing fingerprints: positional trigram
    * hashes, sliding windows of 4, per-window minimum (q203's
    * fingerprint pass).
    */
  def winnowExplode(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    // one imperative pass per doc (graft_winnow_fp) — the r16 rewrite of
    // the HOF chain (split → per-shingle md5 transform → window-min
    // transform with per-window slice allocations → array_distinct),
    // which evaluated ~300 interpreted lambdas per document. Same
    // split, same md5-prefix hash32, same window minima, same
    // distinct; docs with < 3 words or < 4 shingles yield an empty
    // array and are dropped by the explode exactly like the old
    // pre-filters. Measured at sf0.1: q203 4.4 → 2.8 s, q205 alike.
    docs.select(col("doc_id"),
      explode(graft.functions.WinnowFp(docs.sparkSession,
        col("text"))).as("v"))

  /** q205's routing decision over an already-built fingerprint df
    * frame (v, c) — q205 materializes that frame ONCE and
    * feeds both this and the hot-fingerprint filter (the df aggregation
    * is the dominant cost at stress scale; an earlier shape paid it
    * twice). The df HISTOGRAM (a count-of-counts
    * over (v, c), bounded by the number of distinct df values) feeds a
    * single-partition cumulative window that derives, in ONE 1-row
    * read, the capped pair mass Σ_{df≤τ} df², the q194 τ-budget
    * τ·|fp|, and — when the mass is over budget — the TIGHTENED cap
    * τ* = max{c : Σ_{df≤c} df² ≤ τ·|fp|} (floor 1). Returns
    * (tier, effective cap, n_fp, capped_mass, τ).
    *
    * Why tighten instead of switching to the positional containment
    * tier (the r16 prose rule): the r17 probe MEASURED that rule and
    * falsified it — on the r16 hub-stress corpus the positional tier
    * costs 290.7 s / 447M candidate rows @10× vs capped winnowing's
    * 128.8 s, of which ~116 s is the corpus shingle scan EVERY tier
    * pays (the stats pass alone, same log). Hub shingle hashes inflate
    * the positional join just as hub fingerprints inflate the winnow
    * join; no algorithm switch escapes a hub corpus. Tightening the
    * cap does, by construction: enumeration mass ≤ τ·|fp| no matter
    * the df shape — and it is MOSS-faithful (the winnowing paper's own
    * system drops fingerprints shared by more than N documents as
    * template/boilerplate evidence).
    */
  private def statsFromDf(dfc: org.apache.spark.sql.DataFrame,
      tau: org.apache.spark.sql.DataFrame)
      : (String, Long, Long, Long, Long) = {
    val wCum = org.apache.spark.sql.expressions.Window.orderBy("c")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val st = dfc
      .groupBy("c").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tau))
      // single-partition windows over the HISTOGRAM (≤ distinct df
      // values rows — the q197 bounded-frame pattern), never the
      // fingerprint frame itself
      .withColumn("cum", sum(col("n") * col("c") * col("c")).over(wCum))
      .withColumn("n_fp", sum(col("n")).over(wAll))
      .agg(
        coalesce(max(col("n_fp")), lit(0L)).as("n_fp"),
        coalesce(max(when(col("c") <= col("t"), col("cum"))), lit(0L))
          .as("capped_mass"),
        coalesce(max(when(col("cum") <= col("t") * col("n_fp"),
          col("c"))), lit(1L)).as("ts"),
        coalesce(max(col("t")), lit(4L)).as("t"))
      .head()
    val (nFp, capped, ts, t) =
      (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
    if (capped <= t * nFp) ("winnow", t, nFp, capped, t)
    else ("tightened", ts, nFp, capped, t)
  }

  /** Real-delimiter line segmentation (T113's production path): one
    * row per line of `text` split on `delim` (`\n` for web/C4-shaped
    * corpora). Feed the result to [[boilerplateStrip]].
    */
  def lineExplode(docs: org.apache.spark.sql.DataFrame, delim: String)
      : org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), col("source"),
      posexplode(split(col("text"), java.util.regex.Pattern.quote(delim)))
        .as(Seq("pos", "line")))
      // Spark's split keeps trailing empties (limit -1, unlike Java):
      // without this filter a text ending in the delimiter grows a
      // phantom empty last line whose md5("") digest df-counts across
      // every such doc — two texts identical modulo a trailing newline
      // would fingerprint differently. Blank lines are separators, not
      // lines; pos keeps original order (gaps are fine — the
      // recompose sorts by pos)
      .filter(col("line") =!= "")

  /** T113's line-frequency df/strip pipeline over an already-segmented
    * frame (doc_id, source, pos, line) — segmentation is the caller's
    * choice (q204's oracle corpus has no newlines, so the query feeds
    * the deterministic re-liner; production feeds [[lineExplode]]).
    * One definition of the df rule / strip / clean-digest recompose,
    * so the two paths cannot drift. Only 16-byte line digests shuffle;
    * line text never leaves its task.
    */
  def boilerplateStrip(lines: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val e = lines
      .select(col("doc_id"), col("source"), col("pos"),
        md5(encode(col("line"), "UTF-8")).as("ld"))
      .localCheckpoint() // feeds the df count AND the recompose
    val nd = e.select("source", "doc_id").distinct()
      .groupBy("source").agg(count(lit(1)).as("nds"))
    val b = e.select("source", "ld", "doc_id").distinct()
      .groupBy("source", "ld").agg(count(lit(1)).as("c"))
      .join(nd, "source")
      .filter(col("c") > greatest(lit(2L), expr("nds DIV 4")))
      .select(col("source"), col("ld"), lit(true).as("boiler"))
    e.join(b, Seq("source", "ld"), "left")
      .select(col("doc_id"), col("pos"), col("ld"),
        coalesce(col("boiler"), lit(false)).as("boiler"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler"),
        expr("sort_array(collect_list(named_struct('pos', pos, " +
          "'kl', CASE WHEN boiler THEN NULL ELSE ld END)))")
          .as("sorted"))
      .select(col("doc_id"), col("n_lines"), col("n_boiler"),
        expr("CASE WHEN size(filter(sorted, x -> x.kl IS NOT NULL)) " +
          "= 0 THEN NULL ELSE md5(encode(concat_ws(chr(10), " +
          "transform(filter(sorted, x -> x.kl IS NOT NULL), " +
          "x -> x.kl)), 'UTF-8')) END").as("clean_digest"))
      .orderBy("doc_id")
  }

  val qs: Seq[Q] = Seq(
    Q("q196_novelty_rate",
      "per-document shingle novelty vs the accumulated corpus (T105): " +
        "treating doc_id as snapshot order, a doc's novelty is the " +
        "fraction of its distinct trigram-shingle hashes whose FIRST " +
        "corpus occurrence is this doc — the dial that catches a " +
        "crawl slice that is mostly re-crawl (low novelty → skip " +
        "ingest) before paying for dedup. One h-keyed min-aggregation " +
        "(map-side combinable) + one h-keyed join back; novelty in " +
        "exact integer ppm; text never shuffles, only (doc_id, hash) " +
        "pairs — the inverted-index mass that IS this operator's floor",
      Some(s"""WITH w AS (SELECT doc_id, $sqlWords AS ws FROM documents),
        sh AS (SELECT doc_id, list_distinct(list_transform(
            range(1, len(ws)-1),
            i -> array_to_string(ws[i:i+2], ' '))) AS sh FROM w),
        hh AS (SELECT doc_id, list_sort(list_distinct(list_transform(
            sh, s -> ${sqlHash32("s")}))) AS hs FROM sh),
        ex AS (SELECT doc_id, unnest(hs) AS h FROM hh),
        mn AS (SELECT h, MIN(doc_id) AS m FROM ex GROUP BY h)
        SELECT ex.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
          CAST(SUM(CASE WHEN mn.m = ex.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
          CAST((1000000 * SUM(CASE WHEN mn.m = ex.doc_id THEN 1 ELSE 0
            END)) // COUNT(*) AS BIGINT) AS novelty_ppm
        FROM ex JOIN mn USING (h)
        GROUP BY ex.doc_id ORDER BY ex.doc_id"""),
      (s, d) => {
        // (doc_id, h): each doc's DISTINCT trigram-shingle hashes, one
        // row per hash. One-pass hash32+distinct expression (r17):
        // identical elements and first-occurrence order as
        // array_distinct(transform(..)); the HOF form ran one
        // interpreted md5 lambda per shingle.
        val ex = Dedup.shingleFrame(table(s, d, "documents"), "doc_id", "text")
          .select(col("doc_id"), explode(graft.functions.Hash32Arr
            .distinct(s, col("sh"))).as("h"))
          .localCheckpoint() // feeds the min-agg AND the join back
        val mn = ex.groupBy("h").agg(min(col("doc_id")).as("m"))
        ex.join(mn, "h")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("m") === col("doc_id"), 1L).otherwise(0L))
              .as("n_novel"))
          .select(col("doc_id"), col("n_shingles"), col("n_novel"),
            expr("(1000000 * n_novel) DIV n_shingles").as("novelty_ppm"))
          .orderBy("doc_id")
      }),

    Q("q197_token_spectrum",
      "token frequency-of-frequencies spectrum (T106): per log2(tf) " +
        "bucket, the number of distinct token types, their total " +
        "occurrence mass, and type-/mass-shares in exact integer ppm " +
        "— the count-of-counts table behind every Good-Turing-style " +
        "read (the LOWEST bucket's mass share is the rare-token mass " +
        "a vocabulary truncation forfeits) and the tokenizer " +
        "vocabulary-size dial. log2 buckets (exact binary digit " +
        "count, q174/q186 discipline) keep the table populated and " +
        "≤ log2(max tf) rows at ANY corpus hotness — an absolute " +
        "freq ≤ K slice returns zero rows on a corpus whose every " +
        "token repeats (measured on this testdata). ONE token-keyed " +
        "aggregation chain — the corpus-wide totals come from a " +
        "single-partition window over the bounded bucket frame (≤ " +
        "log2(max tf) rows), not a second corpus scan (the broadcast-" +
        "totals form re-read the token aggregation twice — explained " +
        "and fixed in round 9)",
      Some("""WITH t AS (SELECT unnest(regexp_split_to_array(text,
            '\s+')) AS tok FROM documents),
        tf AS (SELECT tok, COUNT(*) AS f FROM t WHERE tok <> ''
          GROUP BY tok),
        tot AS (SELECT COUNT(*) AS n_types, SUM(f) AS n_tokens FROM tf),
        sp AS (SELECT CAST(length(printf('%b', f)) - 1 AS BIGINT)
            AS log2_tf, COUNT(*) AS nt, SUM(f) AS mass
          FROM tf GROUP BY 1)
        SELECT log2_tf, CAST(nt AS BIGINT) AS n_types,
          CAST(mass AS BIGINT) AS mass,
          CAST((1000000 * nt) // tot.n_types AS BIGINT)
            AS type_share_ppm,
          CAST((1000000 * mass) // tot.n_tokens AS BIGINT)
            AS mass_share_ppm
        FROM sp CROSS JOIN tot ORDER BY log2_tf"""),
      (s, d) => {
        val sp = table(s, d, "documents")
          .select(explode(split(col("text"), "\\s+")).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("tok").agg(count(lit(1)).as("f"))
          .select((length(conv(col("f").cast("string"), 10, 2)) - 1)
            .cast("long").as("log2_tf"), col("f"))
          .groupBy("log2_tf")
          .agg(count(lit(1)).as("nt"), sum(col("f")).as("mass"))
        // totals over the BOUNDED bucket frame (≤ log2 max tf rows):
        // a single-partition window here is O(log corpus), not a
        // second pass over the token aggregation
        val w = org.apache.spark.sql.expressions.Window.partitionBy()
        sp.withColumn("tot_types", sum(col("nt")).over(w))
          .withColumn("tot_mass", sum(col("mass")).over(w))
          .select(col("log2_tf"), col("nt").as("n_types"), col("mass"),
            expr("(1000000 * nt) DIV tot_types").as("type_share_ppm"),
            expr("(1000000 * mass) DIV tot_mass").as("mass_share_ppm"))
          .orderBy("log2_tf")
      }),

    Q("q198_utf8_audit",
      "byte-level UTF-8 validation/repair audit (T107): per-doc " +
        "synthesized byte payloads cycle five unit shapes — ASCII, " +
        "2-byte é, 3-byte €, a lone continuation byte 0x80, and a " +
        "TRUNCATED 3-byte prefix E0 A0 — and the real RFC 3629 " +
        "decoder (graft.text.Utf8: per-lead continuation windows, " +
        "overlong/surrogate rejection, Unicode maximal-subpart " +
        "substitution) must report bytes / valid codepoints / " +
        "malformed bytes / U+FFFD substitutions / multibyte count. " +
        "replacements < invalid_bytes exactly on the truncated units " +
        "(one U+FFFD per maximal subpart), so the hash check verifies " +
        "the substitution POLICY, not just detection; Utf8Spec " +
        "additionally referees repaired output byte-for-byte against " +
        "java.nio's CharsetDecoder on valid, malformed and randomly " +
        "mutated inputs. Payload bytes never leave the task",
      Some("""WITH g AS (SELECT doc_id, doc_id % 40 + 10 AS n
          FROM documents),
        m AS (SELECT g.doc_id, (g.doc_id + k.k) % 5 AS t
          FROM g, range(0, 50) k(k) WHERE k.k < g.n)
        SELECT doc_id,
          CAST(SUM(CASE t WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 3
            WHEN 3 THEN 1 ELSE 2 END) AS BIGINT) AS n_bytes,
          CAST(SUM(CASE WHEN t <= 2 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_cp_valid,
          CAST(SUM(CASE t WHEN 3 THEN 1 WHEN 4 THEN 2 ELSE 0 END)
            AS BIGINT) AS n_invalid_bytes,
          CAST(SUM(CASE WHEN t >= 3 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_replacements,
          CAST(SUM(CASE WHEN t = 1 OR t = 2 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_multibyte
        FROM m GROUP BY doc_id ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        // executor-side synthesis (q110/q125 discipline). Unit order
        // cycles t, t+1, …, so a truncated E0 A0 unit (t=4) is always
        // followed by ASCII (t=0) or end-of-doc — never by a stray
        // continuation that would complete it — keeping the oracle
        // closed-form.
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val units = (id % 40 + 10).toInt
            val bos = new java.io.ByteArrayOutputStream()
            for (k <- 0 until units) ((id + k) % 5).toInt match {
              case 0 => bos.write('a')
              case 1 => bos.write(0xc3); bos.write(0xa9) // é
              case 2 => bos.write(0xe2); bos.write(0x82); bos.write(0xac) // €
              case 3 => bos.write(0x80) // lone continuation
              case _ => bos.write(0xe0); bos.write(0xa0) // truncated 3-byte
            }
            val st = graft.text.Utf8.audit(bos.toByteArray)
            (id, st.n_bytes, st.n_cp_valid, st.n_invalid_bytes,
              st.n_replacements, st.n_multibyte)
          }
          .toDF("doc_id", "n_bytes", "n_cp_valid", "n_invalid_bytes",
            "n_replacements", "n_multibyte")
          .orderBy("doc_id")
      }),

    Q("q200_pii_scrub",
      "PII detection + scrubbing audit (T109): deterministic emails " +
        "and E.164-style phone numbers are planted into each doc's " +
        "text (formula-positioned, so natural text and plants coexist " +
        "in one string), then BOTH engines run the same regex " +
        "pipeline: count matches, replace with <EMAIL>/<PHONE> " +
        "placeholders, and md5 the scrubbed text — the digest match " +
        "proves the SCRUB byte-for-byte (a divergent regex dialect, " +
        "replacement order or anchoring shows up as a hash fail, not " +
        "a silent partial scrub). Patterns stay in the Java-regex ∩ " +
        "RE2 common subset (no lookarounds/backrefs — the portable " +
        "discipline a cross-engine pipeline must hold anyway). " +
        "Zero-shuffle per-row Column work; the only exchange is the " +
        "final sort",
      Some("""WITH p AS (SELECT doc_id, text
            || CASE WHEN doc_id % 3 >= 1 THEN ' alice' || doc_id
                 || '@mail.example.org' ELSE '' END
            || CASE WHEN doc_id % 3 = 2 THEN ' bob.' || doc_id
                 || '@ex-two.net' ELSE '' END
            || CASE WHEN doc_id % 2 = 1 THEN ' call +1-555-'
                 || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS ptext
          FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(ptext,
            '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
            AS BIGINT) AS n_emails,
          CAST(len(regexp_extract_all(ptext, '\+1-555-[0-9]{4}'))
            AS BIGINT) AS n_phones,
          md5(regexp_replace(regexp_replace(ptext,
            '[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
            'g'), '\+1-555-[0-9]{4}', '<PHONE>', 'g'))
            AS scrubbed_digest
        FROM p ORDER BY doc_id"""),
      (s, d) => {
        val email = "[A-Za-z0-9._]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phone = "\\+1-555-[0-9]{4}"
        table(s, d, "documents")
          .select(col("doc_id"), expr("""text
            || CASE WHEN doc_id % 3 >= 1 THEN ' alice' || doc_id
                 || '@mail.example.org' ELSE '' END
            || CASE WHEN doc_id % 3 = 2 THEN ' bob.' || doc_id
                 || '@ex-two.net' ELSE '' END
            || CASE WHEN doc_id % 2 = 1 THEN ' call +1-555-'
                 || lpad(CAST(doc_id % 10000 AS STRING), 4, '0')
                 ELSE '' END""").as("ptext"))
          .select(col("doc_id"),
            // DataFrame-API regexp_extract_all: the pattern string
            // reaches the regex engine verbatim (an expr() SQL literal
            // would eat the backslashes)
            size(regexp_extract_all(col("ptext"), lit(email), lit(0)))
              .cast("long").as("n_emails"),
            size(regexp_extract_all(col("ptext"), lit(phone), lit(0)))
              .cast("long").as("n_phones"),
            md5(encode(
              regexp_replace(
                regexp_replace(col("ptext"), email, "<EMAIL>"),
                phone, "<PHONE>"), "UTF-8")).as("scrubbed_digest"))
          .orderBy("doc_id")
      }),

    Q("q201_url_domain_mix",
      "URL extraction + domain-mix rollup (T110): deterministic URLs " +
        "(varying scheme, subdomain depth, path) are planted into doc " +
        "text; both engines regex-extract every URL's HOST, strip the " +
        "www. prefix, and roll up the registered-domain mix — the " +
        "per-domain doc/mention counts a crawl-mix audit reads before " +
        "setting source quotas. Extraction via one capture group in " +
        "the Java∩RE2 subset; rollup is a host-keyed map-side-" +
        "combinable agg; output bounded by the domain vocabulary",
      Some("""WITH p AS (SELECT doc_id, text
            || ' see https://'
            || CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END
            || 'host' || CAST(doc_id % 7 AS VARCHAR)
            || '.example/p/' || CAST(doc_id AS VARCHAR)
            || CASE WHEN doc_id % 5 = 0 THEN ' and http://mirror'
                 || CAST(doc_id % 3 AS VARCHAR) || '.example/x'
                 ELSE '' END AS ptext
          FROM documents),
        u AS (SELECT doc_id, unnest(regexp_extract_all(ptext,
            'https?://([A-Za-z0-9.-]+)/', 1)) AS host FROM p),
        h AS (SELECT doc_id, regexp_replace(host, '^www\.', '')
            AS domain FROM u)
        SELECT domain, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
          CAST(COUNT(*) AS BIGINT) AS n_mentions
        FROM h GROUP BY domain ORDER BY domain"""),
      (s, d) => {
        table(s, d, "documents")
          .select(col("doc_id"), expr("""text
            || ' see https://'
            || CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END
            || 'host' || CAST(doc_id % 7 AS STRING)
            || '.example/p/' || CAST(doc_id AS STRING)
            || CASE WHEN doc_id % 5 = 0 THEN ' and http://mirror'
                 || CAST(doc_id % 3 AS STRING) || '.example/x'
                 ELSE '' END""").as("ptext"))
          .select(col("doc_id"), explode(expr(
            "regexp_extract_all(ptext, 'https?://([A-Za-z0-9.-]+)/', 1)"))
            .as("host"))
          .select(col("doc_id"),
            regexp_replace(col("host"), "^www\\.", "").as("domain"))
          .groupBy("domain")
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_mentions"))
          .orderBy("domain")
      }),

    Q("q202_cdc_chunk_dedup",
      "content-defined chunking dedup (T111, the FastCDC/rsync idea " +
        "on word streams): chunk boundaries fall where a 4-word " +
        "Karp-Rabin rolling hash ≡ 0 (mod 8) — boundaries derive from " +
        "CONTENT, so an insertion early in a document shifts every " +
        "fixed-window chunk but CDC boundaries RE-SYNC after the edit " +
        "and downstream chunks dedup again (the property q99's fixed " +
        "10-word chunks lack; Curation4Spec plants the shifted-copy " +
        "case and referees against an independent plain-Scala CDC). " +
        "Per doc: chunk count, chunks whose digest first occurred in " +
        "an EARLIER doc, dup ppm. Exact integer polynomial hash " +
        "(B=31 powers, BIGINT — identical in both engines); shuffle " +
        "= digest-keyed min-agg + join back, the q196 shape at chunk " +
        "grain; text leaves the task only as chunk digests",
      Some(s"""WITH w AS (SELECT doc_id, $sqlWords AS ws FROM documents),
        g AS (SELECT doc_id, ws, list_transform(ws,
            x -> ${sqlHash32("x")}) AS gs FROM w),
        b AS (SELECT doc_id, ws, list_filter(range(4, len(ws)+1),
            i -> (gs[CAST(i-3 AS INT)]*29791 + gs[CAST(i-2 AS INT)]*961
              + gs[CAST(i-1 AS INT)]*31 + gs[CAST(i AS INT)]) % 8 = 0)
            AS bs FROM g),
        c AS (SELECT doc_id, ws,
            list_prepend(CAST(1 AS BIGINT),
              list_transform(bs, x -> x + 1)) AS ss,
            list_append(bs, CAST(len(ws) AS BIGINT)) AS es FROM b),
        ch AS (SELECT doc_id, unnest(list_transform(
            range(1, len(ss)+1),
            i -> CASE WHEN es[CAST(i AS INT)] >= ss[CAST(i AS INT)]
              THEN md5(array_to_string(
                ws[CAST(ss[CAST(i AS INT)] AS INT)
                  :CAST(es[CAST(i AS INT)] AS INT)], ' '))
              ELSE NULL END)) AS dg FROM c),
        chn AS (SELECT doc_id, dg FROM ch WHERE dg IS NOT NULL),
        mn AS (SELECT dg, MIN(doc_id) AS m FROM chn GROUP BY dg)
        SELECT chn.doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
          CAST(SUM(CASE WHEN mn.m < chn.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dup,
          CAST((1000000 * SUM(CASE WHEN mn.m < chn.doc_id THEN 1
            ELSE 0 END)) // COUNT(*) AS BIGINT) AS dup_ppm
        FROM chn JOIN mn USING (dg)
        GROUP BY chn.doc_id ORDER BY chn.doc_id"""),
      (s, d) => {
        // (doc_id, dg): CDC chunk digests under the 4-word Karp-Rabin
        // mod-8 boundary rule, in one imperative pass per doc
        // (graft_cdc_chunks, r17): same `\s+` split, same per-word hash32,
        // same boundary rule, same per-chunk space-joined md5 digests
        // as the HOF chain it replaces (which ran ~3·len interpreted
        // lambdas + one md5 per word per doc); Curation4Spec's
        // independent plain-Scala CDC referee and the DuckDB twin pin
        // the equivalence.
        val chunks = table(s, d, "documents")
          .select(col("doc_id"), explode(graft.functions.CdcChunks(
            s, col("text"))).as("dg"))
          .localCheckpoint() // feeds the min-agg AND the join back
        val mn = chunks.groupBy("dg").agg(min(col("doc_id")).as("m"))
        chunks.join(mn, "dg")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("m") < col("doc_id"), 1L).otherwise(0L))
              .as("n_dup"))
          .select(col("doc_id"), col("n_chunks"), col("n_dup"),
            expr("(1000000 * n_dup) DIV n_chunks").as("dup_ppm"))
          .orderBy("doc_id")
      }),

    Q("q203_winnow_fingerprints",
      "winnowing fingerprint overlap (T112, the MOSS scheme): " +
        "positional trigram-shingle hashes → sliding windows of 4 → " +
        "each window contributes its MINIMUM hash — the classic " +
        "guarantee that any shared run of ≥ 6 consecutive words " +
        "yields at least one shared fingerprint, at ~2/(w+1) the " +
        "density of full shingle sets. Pairs sharing ≥ 3 distinct " +
        "fingerprints emitted with their overlap count — the " +
        "plagiarism/excerpt detector at a fraction of the containment " +
        "tier's index mass. Winnowing has a KNOWN hot-key artifact — " +
        "a globally small hash value wins the min in every window " +
        "that sees it, so its posting list scales with the corpus " +
        "and owns quadratic pair mass — so the q183 stop-cap " +
        "discipline applies VERBATIM: fingerprints with df > max(4, " +
        "0.4%·docs) are dropped from both sides, the oracle models " +
        "the identical drop, and capped recall is the declared " +
        "semantics (a hot fingerprint is boilerplate evidence, not " +
        "excerpt evidence — measured at sf0.1: the cap costs 2 of " +
        "416 pairs and cuts the wall 7.6 → 4.0 s). " +
        "Curation4Spec's plain-Scala referee applies the same cap " +
        "and the planted shared-run pair survives it",
      Some(s"""WITH w AS (SELECT doc_id, $sqlWords AS ws FROM documents),
        sh AS (SELECT doc_id, list_transform(range(1, len(ws)-1),
            i -> ${sqlHash32("array_to_string(ws[i:i+2], ' ')")}) AS hs
          FROM w WHERE len(ws) >= 3),
        fp AS (SELECT doc_id, list_distinct(list_transform(
            range(1, len(hs)-2),
            i -> list_min(hs[i:i+3]))) AS f
          FROM sh WHERE len(hs) >= 4),
        ex AS (SELECT doc_id, unnest(f) AS v FROM fp),
        tau AS (SELECT greatest(4, COUNT(*) // 250) AS t FROM w),
        hot AS (SELECT v FROM (SELECT v, COUNT(*) AS c FROM ex
            GROUP BY v) CROSS JOIN tau WHERE c > t),
        exc AS (SELECT doc_id, v FROM ex
          WHERE v NOT IN (SELECT v FROM hot)),
        pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
            CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM exc a JOIN exc b ON a.v = b.v AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT a_id, b_id, n_shared FROM pairs WHERE n_shared >= 3
        ORDER BY n_shared DESC, a_id, b_id"""),
      (s, d) => {
        val docs = table(s, d, "documents")
        val ex = winnowExplode(docs)
          .localCheckpoint() // df count + both self-join sides
        val tau = docs.agg(
          expr("greatest(CAST(4 AS BIGINT), count(1) DIV 250) AS t"))
        val hot = ex.groupBy("v").agg(count(lit(1)).as("c"))
          .crossJoin(broadcast(tau))
          .filter(col("c") > col("t")).select("v")
        // the USING-join puts v first — rename by NAME, not position
        val exc = ex.join(hot, Seq("v"), "left_anti")
          .select(col("doc_id"), col("v"))
        exc.select(col("doc_id").as("a_id"), col("v"))
          .join(exc.select(col("doc_id").as("b_id"), col("v")), "v")
          .filter(col("a_id") < col("b_id"))
          .groupBy("a_id", "b_id")
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 3)
          .orderBy(col("n_shared").desc, col("a_id"), col("b_id"))
      }),

    Q("q205_winnow_auto",
      "self-tuning winnowing cap (T112 closure, VERDICT-r9 item 1): " +
        "the q194 measured-mass decision extended to the fingerprint " +
        "tier AS CODE. The fingerprint df HISTOGRAM (count-of-counts, " +
        "bounded rows) feeds one cumulative window that measures the " +
        "capped self-join pair mass Σ_{df≤τ} df² (τ = max(4, " +
        "0.4%·docs), the q203 cap) against the τ-derived linear " +
        "budget τ·|distinct fingerprints| (the q194 formula " +
        "verbatim). Within budget: q203's rows exactly. Over it — " +
        "the hub-fingerprint shape — the cap TIGHTENS to τ* = " +
        "max{c : Σ_{df≤c} df² ≤ budget}, so enumeration mass is " +
        "budget-bounded BY CONSTRUCTION for every corpus shape. The " +
        "r16 prose rule (fall back to the positional containment " +
        "tier) was measured in the r17 probe and FALSIFIED: on the " +
        "r16 hub-stress corpus the positional tier costs 290.7 s / " +
        "447M candidate rows @10× vs capped winnowing's 128.8 s — " +
        "~116 s of which is the corpus scan EVERY tier pays (the " +
        "stats pass alone, same probe log) — because hub shingle " +
        "hashes inflate a positional join exactly as hub fingerprints " +
        "inflate this one. Tightening is also MOSS-faithful: the " +
        "winnowing paper's own system drops fingerprints shared by " +
        "more than N documents as template evidence, not excerpt " +
        "evidence. The oracle computes the identical integer " +
        "histogram rule (cumulative window, same floor/tie handling) " +
        "and emits the matching tier string, so the hash check " +
        "verifies the routing decision AND the routed cap. Measured " +
        "routing points: natural sf0.01 sits at 0.60× the budget " +
        "(winnow), natural sf0.1 at 2.11× and the r16 hub-stress " +
        "corpus at 6.19× (tightened)",
      Some(s"""WITH w AS (SELECT doc_id, $sqlWords AS ws FROM documents),
        shw AS (SELECT doc_id, list_transform(range(1, len(ws)-1),
            i -> ${sqlHash32("array_to_string(ws[i:i+2], ' ')")}) AS hs
          FROM w WHERE len(ws) >= 3),
        fp AS (SELECT doc_id, list_distinct(list_transform(
            range(1, len(hs)-2),
            i -> list_min(hs[i:i+3]))) AS f
          FROM shw WHERE len(hs) >= 4),
        ex AS (SELECT doc_id, unnest(f) AS v FROM fp),
        tau AS (SELECT greatest(4, COUNT(*) // 250) AS t FROM w),
        dfc AS (SELECT v, COUNT(*) AS c FROM ex GROUP BY v),
        hist AS (SELECT c, COUNT(*) AS n FROM dfc GROUP BY c),
        h2 AS (SELECT c, SUM(n * c * c) OVER (ORDER BY c) AS cum,
            SUM(n) OVER () AS n_fp FROM hist),
        st AS (SELECT COALESCE(MAX(n_fp), 0) AS n_fp,
            COALESCE(MAX(CASE WHEN c <= t THEN cum END), 0)
              AS capped_mass,
            COALESCE(MAX(CASE WHEN cum <= t * n_fp THEN c END), 1)
              AS ts, MAX(t) AS t
          FROM h2 CROSS JOIN tau),
        ch AS (SELECT CASE WHEN capped_mass <= t * n_fp THEN 'winnow'
              ELSE 'tightened' END AS tier,
            CASE WHEN capped_mass <= t * n_fp THEN t ELSE ts END AS eff
          FROM st),
        hot AS (SELECT v FROM dfc CROSS JOIN ch WHERE c > eff),
        exc AS (SELECT doc_id, v FROM ex
          WHERE v NOT IN (SELECT v FROM hot)),
        pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
            CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM exc a JOIN exc b ON a.v = b.v AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT tier, a_id, b_id, n_shared FROM pairs CROSS JOIN ch
        WHERE n_shared >= 3 ORDER BY a_id, b_id"""),
      (s, d) => {
        // q203's capped winnowing pairs, with the cap self-tuned to the
        // measured df histogram — τ (the q203 cap) when the capped mass
        // fits the q194 budget, the tightened τ* when a hub-shaped corpus
        // would blow past it; under budget the rows are q203's exactly.
        // The 1-row stats read is a plan decision on an aggregate (the
        // AQE-replanning class, never a data collect).
        val docs = table(s, d, "documents")
        val tau = docs.agg(
          expr("greatest(CAST(4 AS BIGINT), count(1) DIV 250) AS t"))
        // one explode materialization feeds the df aggregation and both
        // self-join sides; one df materialization (|distinct fp| rows)
        // feeds the histogram stats AND the hot filter — the df
        // aggregation over the exploded frame is the dominant cost at
        // stress scale and is paid exactly once
        val ex = winnowExplode(docs).localCheckpoint()
        val dfc = ex.groupBy("v").agg(count(lit(1)).as("c")).localCheckpoint()
        val (tier, eff, _, _, _) = statsFromDf(dfc, tau)
        val hot = dfc.filter(col("c") > lit(eff)).select("v")
        val exc = ex.join(hot, Seq("v"), "left_anti")
          .select(col("doc_id"), col("v"))
        exc.select(col("doc_id").as("a_id"), col("v"))
          .join(exc.select(col("doc_id").as("b_id"), col("v")), "v")
          .filter(col("a_id") < col("b_id"))
          .groupBy("a_id", "b_id")
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 3)
          .select(lit(tier).as("tier"), col("a_id"), col("b_id"),
            col("n_shared"))
          .orderBy("a_id", "b_id")
      }),

    Q("q204_boilerplate_lines",
      "line-frequency boilerplate stripping (T113, the C4/Trafilatura " +
        "class): docs are deterministically re-lined (6 words per " +
        "line + a per-source footer line — the planted navigation/" +
        "license shape), and a LINE whose digest appears in more than " +
        "max(2, 25% of the source's docs) documents of the SAME " +
        "source is boilerplate; per doc: line count, boilerplate " +
        "count, and the md5 over the KEPT line digests in original " +
        "order — the clean-text fingerprint a downstream dedup would " +
        "consume. Only 16-byte line digests shuffle (frequency count " +
        "keyed by (source, digest), recompose keyed by doc) — line " +
        "TEXT never leaves its task, the binary-tier rule applied to " +
        "text. Segmentation is a parameter of the shared builder " +
        "(boilerplateStrip): this oracle corpus has no newlines so " +
        "the query feeds the re-liner; production feeds " +
        "lineExplode(docs, delim) and Curation4Spec referees that " +
        "path on a planted multi-line fixture (VERDICT-r9 item 5)",
      Some("""WITH w AS (SELECT doc_id, source,
            regexp_split_to_array(text, '\s+') AS ws FROM documents),
        l AS (SELECT doc_id, source, list_append(
            list_transform(range(0, CAST((len(ws)+5)//6 AS BIGINT)),
              i -> array_to_string(
                ws[CAST(6*i+1 AS INT):CAST(6*i+6 AS INT)], ' ')),
            'footer of ' || source) AS ls FROM w),
        eu AS (SELECT doc_id, source, unnest(list_transform(
            range(1, len(ls)+1),
            i -> {'pos': i, 'ld': md5(ls[CAST(i AS INT)])})) AS u
          FROM l),
        e AS (SELECT doc_id, source, u.pos AS pos, u.ld AS ld FROM eu),
        nd AS (SELECT source, COUNT(DISTINCT doc_id) AS nds FROM w
          GROUP BY source),
        df AS (SELECT source, ld, COUNT(DISTINCT doc_id) AS c FROM e
          GROUP BY source, ld),
        b AS (SELECT df.source, df.ld FROM df JOIN nd USING (source)
          WHERE df.c > greatest(2, nds // 4)),
        m AS (SELECT e.doc_id, e.pos, e.ld,
            (b.ld IS NOT NULL) AS boiler
          FROM e LEFT JOIN b ON e.source = b.source AND e.ld = b.ld)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
          CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT)
            AS n_boiler,
          md5(string_agg(CASE WHEN boiler THEN NULL ELSE ld END,
            chr(10) ORDER BY pos)) AS clean_digest
        FROM m GROUP BY doc_id ORDER BY doc_id"""),
      (s, d) =>
        // the oracle corpus has no newlines, so the oracle path feeds
        // the deterministic 6-word re-liner into the SHARED df/strip
        // builder; production feeds lineExplode(docs, "\n") — one
        // builder, two segmentations (VERDICT-r9 item 5)
        boilerplateStrip(table(s, d, "documents")
          .select(col("doc_id"), col("source"),
            split(col("text"), "\\s+").as("ws"))
          .select(col("doc_id"), col("source"), posexplode(expr(
            "concat(transform(sequence(0, " +
              "CAST((size(ws)+5) DIV 6 AS INT) - 1), " +
              "i -> concat_ws(' ', slice(ws, 6*i+1, 6))), " +
              "array('footer of ' || source))")).as(Seq("pos", "line"))))),

    Q("q199_vocab_growth",
      "vocabulary-growth (Heaps) curve (T108): distinct token types " +
        "seen within the first 2^(j+1)-1 documents of snapshot order, " +
        "per power-of-two bucket — the curve that predicts tokenizer " +
        "vocabulary size and OOV rate before training it on 100 TB. " +
        "Each type is attributed to the bucket of its FIRST document " +
        "(one token-keyed min-aggregation), bucket = exact binary " +
        "digit count of first_doc+1 (q174 discipline, never log2()); " +
        "the cumulative vocabulary runs on the ≤ log2(N) bucket rows",
      Some("""WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(
            text, '\s+')) AS tok FROM documents),
        fo AS (SELECT tok, MIN(doc_id) AS fd FROM t WHERE tok <> ''
          GROUP BY tok),
        b AS (SELECT CAST(length(printf('%b', fd + 1)) - 1 AS BIGINT)
            AS bucket FROM fo),
        c AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_types
          FROM b GROUP BY bucket)
        SELECT bucket,
          CAST((CAST(1 AS BIGINT) << CAST(bucket + 1 AS INT)) - 1
            AS BIGINT) AS prefix_docs,
          new_types,
          CAST(SUM(new_types) OVER (ORDER BY bucket) AS BIGINT)
            AS vocab
        FROM c ORDER BY bucket"""),
      (s, d) => {
        val c = table(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), "\\s+"))
            .as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("tok").agg(min(col("doc_id")).as("fd"))
          .select((length(conv((col("fd") + 1).cast("string"), 10, 2)) - 1)
            .cast("long").as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("new_types"))
        c.select(col("bucket"),
            expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket + 1 AS INT)) - 1")
              .as("prefix_docs"),
            col("new_types"),
            sum(col("new_types")).over(org.apache.spark.sql.expressions
              .Window.orderBy(col("bucket"))).cast("long").as("vocab"))
          .orderBy("bucket")
      }),

    Q("q211_url_canonicalize",
      "URL canonicalization (T120, graft.text.Urls — the frontier " +
        "dedup key q201's extraction feeds): per doc, 1-4 messy " +
        "variants of the same target (uppercase scheme/host + :80 + " +
        "fragment; /./ and /../ segments; %-escapes of unreserved " +
        "chars; trailing host dot + %7E) must all collapse to ONE " +
        "canonical URL under RFC 3986 syntax normalization + the " +
        "frontier conventions (default-port strip, query-param sort, " +
        "fragment drop), while a mailto: per doc is rejected as " +
        "non-hierarchical. The oracle knows every canonical closed-" +
        "form; n_canon=1 proves the variants converged and the canon " +
        "string proves WHERE. Pure per-row work, no shuffle — at " +
        "corpus scale the canonical key is what the frontier " +
        "groupBy/politeness tiers partition on",
      Some("""SELECT doc_id,
          CAST(doc_id % 4 + 1 AS BIGINT) AS n_urls,
          CAST(1 AS BIGINT) AS n_canon,
          'http://ex' || CAST(doc_id % 97 AS VARCHAR) || '.test/p' ||
            CAST(doc_id % 97 AS VARCHAR) || '/a-b_c~d/q?b=2&x=1'
            AS canon,
          'ex' || CAST(doc_id % 97 AS VARCHAR) || '.test' AS host,
          CAST(1 AS BIGINT) AS n_rejected
        FROM documents ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.text.Urls
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val g = id % 97
            val variants = Seq(
              s"HTTP://EX$g.TEST:80/p$g/a-b_c~d/q?x=1&b=2#frag",
              s"http://ex$g.test/p$g/./zz/../a-b_c~d/q?x=1&b=2",
              s"http://ex$g.test/p$g/%61%2Db_c~d/q?b=2&x=1",
              s"http://ex$g.test.:80/p$g/a-b_c%7Ed/q?b=2&x=1")
              .take((id % 4 + 1).toInt)
            val canon = variants.map(Urls.canonicalize)
            val rejected = Seq(s"mailto:u$id@ex$g.test")
              .map(Urls.canonicalize).count(_.isEmpty)
            val distinct = canon.flatten.distinct
            (id, variants.length.toLong, distinct.length.toLong,
              distinct.headOption.getOrElse("PARSE_FAILED"),
              distinct.headOption.flatMap(Urls.parse).map(_.host)
                .getOrElse("-"),
              rejected.toLong)
          }
          .toDF("doc_id", "n_urls", "n_canon", "canon", "host",
            "n_rejected")
          .orderBy("doc_id")
      })
  )
}
