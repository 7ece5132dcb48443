package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Common.table

/** Round-13 wave 2 (T169–T179): the URL-aliasing, multilingual/
  * bitext, and conditional-fetch-semantics operators a production
  * crawl layers on top of the frontier (Crawl.scala) once pages are
  * actually being fetched —
  *
  *  - rel=canonical alias clustering (T169, q259) and the
  *    redirect ≻ canonical ≻ tracking-strip alias-resolution
  *    capstone (T174, q264): pages declare their own dedup key; the
  *    crawler folds tracked/syndicated/mirrored variants onto it.
  *  - hreflang clusters → bitext pair mining (T170, q260), IDN
  *    decode under the homograph gate (T177, q267), Gale–Church
  *    sentence alignment (T178, q268), and the full bitext capstone
  *    (T179, q269): the translated-page groups sites advertise are
  *    the highest-precision source of parallel training text a
  *    crawl owns, IF the annotations are reciprocal and the pages
  *    actually correspond.
  *  - conditional-fetch semantics: Vary cache keys (T171, q261),
  *    weak/strong entity-tag comparison (T175, q265), and 206
  *    range reassembly (T176, q266) — the pieces the T154 ledger
  *    needs before reusing stored responses.
  *  - IP-grouped politeness (T173, q263) and the FIM training
  *    transform (T172, q262 — in Pipeline.scala).
  *
  * Scale shape: every query here is per-row extraction work (the T118
  * scanner) followed by at most ONE equi-shuffle on a small derived
  * key (canonical URL / cluster key / IP); document payloads never
  * move — only URLs, lang tags, lengths, and fingerprints enter the
  * shuffle. At 100 TB the alias/cluster rollups are exactly the T120
  * canonical-key groupBy the frontier already pays, on smaller rows.
  */
object Crawl2 {

  private val langNames = Array("en", "de", "fr")

  /** Digit-run matcher for the T170 fingerprint — compiled once (the
    * relSep precedent: per-row compile in a hot map is waste).
    */
  private val digitRun = "[0-9]+".r

  /** Language-variant page URL for q260's synthesized corpus. */
  private def variantUrl(story: Long, lang: String): String =
    s"http://ex${story % 97}.test/$lang/story$story"

  /** The q259 per-page synthesis + extraction: renders the doc's
    * canonical-link shape (incl. the comment/rawtext/second-canonical
    * decoys), runs the REAL scanner + resolver, and returns
    * (doc_id, own canonical URL, resolved canonical key, is_self).
    */
  private def canonicalRow(id: Long)
      : (Long, String, String, Long) = {
    import graft.multimodal.Html
    import graft.text.Urls
    val g = id % 97
    // the four wire shapes; the canonical href varies in FORM
    // (path-relative / absolute-path / cross-host absolute /
    // absent) so resolution is genuinely exercised
    val (pageUrl, canonTag) = (id % 4) match {
      case 0 => (s"http://ex$g.test/art$id",
        s"""<link rel="canonical" href="art$id">""")
      case 1 =>
        val tgt = id - 1
        (s"http://ex${tgt % 97}.test/art$tgt" +
          "?utm_source=feed&ref=x",
          s"""<link rel="canonical" href="/art$tgt">""")
      case 2 => (s"http://mirror$g.test/copy$id",
        "<link rel=\"canonical\" " +
          s"""href="http://origin.test/story${id % 40}">""")
      case _ => (s"http://ex$g.test/art$id", "")
    }
    val page =
      "<head>" +
        "<!-- <link rel=\"canonical\" href=\"/commented\"> -->" +
        "<script>var x = '<link rel=\"canonical\" " +
        "href=\"/rawtext\">';</script>" +
        canonTag +
        // second canonical: only planted when a real one exists
        // (else IT would be first and win)
        (if (canonTag.nonEmpty)
          "<link rel=\"canonical\" href=\"/second-decoy\">"
         else "") +
        s"</head><body><p>article $id body</p></body>"
    val ex = Html.extractText(page)
    val self = Urls.canonicalize(pageUrl).get
    val key = ex.canonical
      .flatMap(h => Urls.resolve(pageUrl, h))
      .flatMap(Urls.canonicalize)
      .getOrElse(self)
    (id, self, key, if (key == self) 1L else 0L)
  }

  /** The q260 per-page synthesis + extraction: renders one language
    * variant's hreflang block (incl. the planted reciprocity and
    * fingerprint defects), runs the real scanner, and returns
    * (cluster key, lang, own URL, resolved "lang>url" alternates,
    * digit fingerprint).
    */
  private def hreflangRow(id: Long)
      : (String, String, String, Seq[String], String) = {
    import graft.multimodal.Html
    import graft.text.Urls
    val story = id / 3
    val v = (id % 3).toInt
    val lang = langNames(v)
    val pageUrl = variantUrl(story, lang)
    // the de page of every story ≡0 mod 7 omits its en return link
    // (the non-reciprocal defect)
    val advertised = langNames.toSeq
      .filterNot(l => l == "en" && v == 1 && story % 7 == 0)
    val alternateTags = advertised.map(l =>
      s"""<link rel="alternate" hreflang="$l" """ +
        s"""href="/$l/story$story">""").mkString +
      // x-default decoy: a real-world entry that is not a language
      // and must not become a pair member
      s"""<link rel="alternate" hreflang="x-default" """ +
      s"""href="/en/story$story">"""
    // the figure is off by one on the fr variant of every story
    // ≡0 mod 11 (the fingerprint-reject defect)
    val figure =
      if (v == 2 && story % 11 == 0) 1001 + story
      else 1000 + story
    val noun = v match {
      case 0 => "Story"; case 1 => "Bericht"; case _ => "Rapport"
    }
    val page = s"<head>$alternateTags</head><body>" +
      s"<p>$noun $story reports $figure units across " +
      s"${2 + story % 13} sites.</p></body>"
    val ex = Html.extractText(page)
    val self = Urls.canonicalize(pageUrl).get
    // resolved (lang, url) alternate list; x-default kept by the
    // capture but never matches a member lang downstream
    val alts = ex.alternates.flatMap { case (lg, h) =>
      Urls.resolve(pageUrl, h).flatMap(Urls.canonicalize)
        .map(u => s"$lg>$u")
    }
    val clusterKey = (self +: alts.map(_.split(">", 2)(1))).min
    val fp = digitRun.findAllIn(ex.text).toSeq.distinct
      .sorted.mkString(",")
    (clusterKey, lang, self, alts, fp)
  }

  /** The q260 per-cluster pair verdicts over the collected members:
    * (cluster key, n_pages, langs csv, n_pairs, n_reciprocal,
    * n_fp_reject, n_aligned). Bounded state — a cluster is one
    * site's language variants (≤3 here, ≤ tens in production).
    */
  private def hreflangVerdict(ckey: String,
      ms0: Seq[(String, String, Seq[String], String)])
      : (String, Long, String, Long, Long, Long, Long) = {
    val ms = ms0.sortBy(_._1)
    val pairs = for {
      i <- ms.indices; j <- ms.indices if i < j
    } yield (ms(i), ms(j))
    val recip = pairs.filter { case (a, b) =>
      a._3.contains(s"${b._1}>${b._2}") &&
        b._3.contains(s"${a._1}>${a._2}")
    }
    val aligned = recip.count { case (a, b) => a._4 == b._4 }
    (ckey, ms.length.toLong, ms.map(_._1).mkString(","),
      pairs.length.toLong, recip.length.toLong,
      (recip.length - aligned).toLong, aligned.toLong)
  }

  def qs: Seq[Q] = Seq(

    Q("q259_canonical_cluster",
      "rel=canonical alias clustering (T169, Html.extractText's " +
        "canonical capture): per doc, one of four page shapes — a " +
        "clean self-canonical article (path-relative href exercises " +
        "T129 resolution), a utm-tracked variant whose canonical " +
        "points at the CLEAN article of doc_id-1 (the alias fold " +
        "tracking-param dedup q236 approximates is here declared by " +
        "the page itself), a syndicated mirror-host copy whose " +
        "canonical crosses hosts to a shared origin story (multi-" +
        "member clusters over a target the crawl never fetched — " +
        "the frontier-enqueue signal), and a canonical-less page " +
        "(fallback: its own T120 canonical URL) — plus decoys: a " +
        "commented canonical, a rawtext canonical, a second " +
        "canonical (first wins). Pages then cluster on the resolved " +
        "key: size, representative (min doc_id), and whether the " +
        "page IS the canonical variant, all closed-form. One " +
        "mis-captured decoy or mis-resolved href splits a cluster " +
        "and hash-fails. ONE equi-shuffle on the canonical key — " +
        "URLs only, text never moves",
      Some("""WITH e AS (SELECT doc_id,
            CASE doc_id % 4
              WHEN 0 THEN 'http://ex' || CAST(doc_id % 97 AS VARCHAR)
                || '.test/art' || CAST(doc_id AS VARCHAR)
              WHEN 1 THEN 'http://ex'
                || CAST((doc_id - 1) % 97 AS VARCHAR) || '.test/art'
                || CAST(doc_id - 1 AS VARCHAR)
                || '?ref=x&utm_source=feed'
              WHEN 2 THEN 'http://mirror'
                || CAST(doc_id % 97 AS VARCHAR) || '.test/copy'
                || CAST(doc_id AS VARCHAR)
              ELSE 'http://ex' || CAST(doc_id % 97 AS VARCHAR)
                || '.test/art' || CAST(doc_id AS VARCHAR)
            END AS page_url,
            CASE doc_id % 4
              WHEN 0 THEN 'http://ex' || CAST(doc_id % 97 AS VARCHAR)
                || '.test/art' || CAST(doc_id AS VARCHAR)
              WHEN 1 THEN 'http://ex'
                || CAST((doc_id - 1) % 97 AS VARCHAR) || '.test/art'
                || CAST(doc_id - 1 AS VARCHAR)
              WHEN 2 THEN 'http://origin.test/story'
                || CAST(doc_id % 40 AS VARCHAR)
              ELSE 'http://ex' || CAST(doc_id % 97 AS VARCHAR)
                || '.test/art' || CAST(doc_id AS VARCHAR)
            END AS canonical_key,
            CAST(CASE WHEN doc_id % 4 IN (0, 3) THEN 1 ELSE 0 END
              AS BIGINT) AS is_self
          FROM documents)
        SELECT doc_id, page_url, canonical_key, is_self,
          COUNT(*) OVER (PARTITION BY canonical_key) AS cluster_size,
          MIN(doc_id) OVER (PARTITION BY canonical_key) AS rep_doc,
          CAST(CASE WHEN doc_id = MIN(doc_id) OVER
            (PARTITION BY canonical_key) THEN 1 ELSE 0 END AS BIGINT)
            AS is_rep
        FROM e ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        val pages = table(s, d, "documents").select(col("doc_id"))
          .as[Long]
          .map(canonicalRow)
          .toDF("doc_id", "page_url", "canonical_key", "is_self")
        val w = Window.partitionBy("canonical_key")
        pages
          .withColumn("cluster_size", count(lit(1)).over(w))
          .withColumn("rep_doc", min(col("doc_id")).over(w))
          .withColumn("is_rep",
            when(col("doc_id") === col("rep_doc"), 1L).otherwise(0L))
          .orderBy("doc_id")
      }),

    Q("q260_hreflang_bitext",
      "hreflang cluster reciprocity + bitext pair mining (T170, " +
        "Html.extractText's alternate capture): docs group into " +
        "3-language stories (en/de/fr pages at doc_id div 3); each " +
        "page advertises its variants via <link rel=alternate " +
        "hreflang href> (relative hrefs — T129 resolution — plus an " +
        "x-default decoy). Clusters form on the MIN canonical URL of " +
        "self ∪ alternates; per cluster the unordered lang pairs are " +
        "checked for RECIPROCITY (both pages must link each other — " +
        "the documented search-engine rule; every story ≡0 mod 7 " +
        "plants a de page missing its en return link) and aligned " +
        "pairs are confirmed by a translation-invariant DIGIT " +
        "fingerprint over the extracted text (numbers survive " +
        "translation; every story ≡0 mod 11 plants a fr variant " +
        "whose figure is off by one — annotation says translated, " +
        "content says no). The parallel-corpus feed: aligned = " +
        "reciprocal ∧ fingerprint-equal, every count closed-form " +
        "incl. the ragged last story. ONE equi-shuffle on the " +
        "cluster key carrying ≤3 tiny structs per group",
      Some("""WITH s AS (SELECT doc_id // 3 AS story,
            COUNT(*) AS n_pages FROM documents GROUP BY doc_id // 3)
        SELECT 'http://ex' || CAST(story % 97 AS VARCHAR) ||
            '.test/de/story' || CAST(story AS VARCHAR) AS cluster_key,
          CAST(n_pages AS BIGINT) AS n_pages,
          CASE n_pages WHEN 1 THEN 'en' WHEN 2 THEN 'de,en'
            ELSE 'de,en,fr' END AS langs,
          CAST(n_pages * (n_pages - 1) // 2 AS BIGINT) AS n_pairs,
          CAST(n_pages * (n_pages - 1) // 2 -
            CASE WHEN story % 7 = 0 AND n_pages >= 2 THEN 1 ELSE 0 END
            AS BIGINT) AS n_reciprocal,
          CAST(CASE WHEN story % 11 = 0 AND n_pages = 3 THEN 2 ELSE 0
            END AS BIGINT) AS n_fp_reject,
          CAST(n_pages * (n_pages - 1) // 2 -
            CASE WHEN story % 7 = 0 AND n_pages >= 2 THEN 1 ELSE 0 END
            - CASE WHEN story % 11 = 0 AND n_pages = 3 THEN 2 ELSE 0
              END AS BIGINT) AS n_aligned
        FROM s ORDER BY cluster_key"""),
      (s, d) => {
        import s.implicits._
        val members = table(s, d, "documents").select(col("doc_id"))
          .as[Long]
          .map(hreflangRow)
          .toDF("ckey", "lang", "url", "alts", "fp")
        members
          .groupBy("ckey")
          .agg(collect_list(struct(col("lang"), col("url"),
            col("alts"), col("fp"))).as("ms"))
          .as[(String, Seq[(String, String, Seq[String], String)])]
          .map { case (ckey, ms) => hreflangVerdict(ckey, ms) }
          .toDF("cluster_key", "n_pages", "langs", "n_pairs",
            "n_reciprocal", "n_fp_reject", "n_aligned")
          .orderBy("cluster_key")
      }),

    Q("q261_vary_cache_key",
      "Vary-aware cache keys (T171, Http.varyKey/varyMatches — RFC " +
        "9111 §4.1's secondary cache key, the piece the T154 " +
        "conditional-fetch ledger needs before serving stored " +
        "responses to requests with DIFFERENT negotiation headers): " +
        "per doc, a stored response parses off real wire bytes under " +
        "one of four Vary shapes — none, Accept-Encoding, TWO " +
        "separate Vary header lines (Accept-Encoding + User-Agent, " +
        "which must join per RFC 9110 §5.3 exactly like the T150 " +
        "Content-Encoding discipline), and '*' (never matches, even " +
        "an identical request) — and three probe requests (identical " +
        "/ different Accept-Encoding / different User-Agent) get " +
        "their hit/miss verdicts. The normalized key (split, trim, " +
        "lower, sort, dedup) and all three verdicts are closed-form " +
        "by residue; reading only the FIRST Vary line flips shape 3, " +
        "matching on '*' flips shape 4. Zero shuffle — per-row parse " +
        "work, the cache-key class the ledger runs at line rate",
      Some("""SELECT doc_id,
          CASE doc_id % 4 WHEN 0 THEN '' WHEN 1 THEN 'accept-encoding'
            WHEN 2 THEN 'accept-encoding,user-agent' ELSE '*' END
            AS vary_key,
          CAST(CASE WHEN doc_id % 4 = 3 THEN 0 ELSE 1 END AS BIGINT)
            AS hit_same,
          CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS BIGINT)
            AS hit_other_encoding,
          CAST(CASE WHEN doc_id % 4 IN (0, 1) THEN 1 ELSE 0 END
            AS BIGINT) AS hit_other_agent
        FROM documents ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Http
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val varyHeaders = (id % 4) match {
              case 0 => Seq.empty[(String, String)]
              case 1 => Seq("Vary" -> "Accept-Encoding")
              case 2 => Seq("Vary" -> "Accept-Encoding",
                "Vary" -> "User-Agent")
              case _ => Seq("Vary" -> "*")
            }
            val wire = Http.render(200, "OK",
              ("Content-Type" -> "text/plain") +: varyHeaders,
              s"cached body $id".getBytes("UTF-8"))
            val (_, headers) = Http.statusAndHeaders(wire).get
            val key = Http.varyKey(headers)
            val orig = Seq("accept-encoding" -> "gzip",
              "user-agent" -> "graftbot/1.0")
            def probe(ae: String, ua: String): Long =
              if (Http.varyMatches(key,
                orig, Seq("accept-encoding" -> ae, "user-agent" -> ua)))
                1L
              else 0L
            (id, key.mkString(","),
              probe("gzip", "graftbot/1.0"),
              probe("br", "graftbot/1.0"),
              probe("gzip", "otherbot/2.0"))
          }
          .toDF("doc_id", "vary_key", "hit_same",
            "hit_other_encoding", "hit_other_agent")
          .orderBy("doc_id")
      }),

    Q("q263_ip_politeness",
      "IP-grouped politeness (T173 — the Mercator/Heritrix rule the " +
        "host-keyed schedules so far under-enforce: k virtual hosts " +
        "on one shared server mean a host-keyed frontier opens k " +
        "SIMULTANEOUS connections to one IP): the q216 gate chain " +
        "(canonicalize → parsed-robots gate) re-keys per resolved " +
        "IP (deterministic shared-hosting map, ~4 vhosts per " +
        "address), the member queues UNION, the delay takes the MAX " +
        "member policy (the conservative rule — the server's " +
        "strictest vhost wins), and the makespan re-computes serial " +
        "and at k=3 through the same exact ceil-div as T125. " +
        "n_hosts IS the connection count a host-keyed frontier " +
        "would open at once — the overload the re-key removes. " +
        "Membership is pinned by an order-insensitive url-hash sum; " +
        "one URL in the wrong IP queue shifts two rows. Two tiny " +
        "keyed shuffles (host rollup, then IP rollup) — exactly the " +
        "frontier's existing cost class on smaller rows",
      Some("""WITH u AS (
          SELECT doc_id, doc_id % 97 AS g, j.j AS j FROM documents,
            range(0, 3) j(j) WHERE j.j < doc_id % 3 + 1),
        q AS (SELECT g, 'http://ex' || CAST(g AS VARCHAR) ||
            '.test/p' || CAST(doc_id AS VARCHAR) || '/' ||
            CAST(j AS VARCHAR) || '?x=1' AS url FROM u),
        h AS (SELECT g, COUNT(*) AS n,
            CAST(SUM(CAST('0x' || substr(md5(url), 1, 8) AS BIGINT))
              AS BIGINT) AS usum
          FROM q GROUP BY g)
        SELECT '10.0.' || CAST(g % 24 AS VARCHAR) || '.1' AS ip,
          CAST(COUNT(*) AS BIGINT) AS n_hosts,
          CAST(SUM(n) AS BIGINT) AS n_urls,
          CAST(MAX(1 + g % 5) AS BIGINT) AS delay_s,
          CAST(SUM(usum) AS BIGINT) AS url_hash_sum,
          CAST((SUM(n) - 1) * MAX(1 + g % 5) AS BIGINT)
            AS makespan_serial,
          CAST(((SUM(n) - 1 + 2) // 3) * MAX(1 + g % 5) AS BIGINT)
            AS makespan_k3
        FROM h GROUP BY g % 24 ORDER BY ip"""),
      (s, d) => {
        val docs = table(s, d, "documents")
        val gated = Crawl.robotsGate(s, Crawl.frontierPages(s, docs),
          Crawl.hostRobots(s, docs))
        // deterministic shared-hosting resolution: ex{g}.test →
        // 10.0.{g%24}.1 (the DNS seam a deployment swaps for real
        // resolution; politeness must key on what it returns)
        val byHost = gated
          .withColumn("g",
            regexp_extract(col("host"), "^ex(\\d+)\\.test$", 1)
              .cast("long"))
          .groupBy("g", "delay_s")
          .agg(count(lit(1)).as("n"),
            sum(graft.ops.Hashing.hash32(col("url"))).as("usum"))
        byHost
          .groupBy(concat(lit("10.0."), col("g") % 24, lit(".1"))
            .as("ip"))
          .agg(count(lit(1)).as("n_hosts"),
            sum(col("n")).as("n_urls"),
            max(col("delay_s")).as("delay_s"),
            sum(col("usum")).as("url_hash_sum"))
          .select(col("ip"), col("n_hosts"), col("n_urls"),
            col("delay_s"), col("url_hash_sum"),
            ((col("n_urls") - 1) * col("delay_s"))
              .as("makespan_serial"),
            (expr("(n_urls - 1 + 2) div 3") * col("delay_s"))
              .as("makespan_k3"))
          .orderBy("ip")
      }),

    Q("q264_alias_capstone",
      "URL-alias resolution capstone (T174 — the three aliasing " +
        "signals the engine now owns, COMPOSED in their production " +
        "precedence: fetch-time redirects (T140, the real follower " +
        "over wire bytes) ≻ content-time rel=canonical (T169, the " +
        "real scanner over the fetched body) ≻ lexical tracking-" +
        "param strip (T145) — content's own claim beats transport, " +
        "transport beats normalization): per doc one of five shapes " +
        "— plain / tracked-only / 301-redirect / canonical-only / " +
        "ALL THREE stacked (a tracked start 301s to a tracked AMP " +
        "variant whose body declares the clean canonical). Every " +
        "stage key (start, post-redirect fetch URL, canonical key, " +
        "final alias) plus which signal decided and the hop count " +
        "is closed-form; a precedence inversion, an unresolved " +
        "Location, or a leaked tracking param hash-fails. Zero " +
        "shuffle — the whole chain is per-row work over an in-task " +
        "fetch seam, the T120 canonical-key class at line rate",
      Some("""SELECT doc_id,
          CASE doc_id % 5
            WHEN 0 THEN 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/art' || CAST(doc_id AS VARCHAR)
            WHEN 1 THEN 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/art' || CAST(doc_id AS VARCHAR) ||
              '?gclid=abc&utm_source=feed'
            WHEN 2 THEN 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/r' || CAST(doc_id AS VARCHAR)
            WHEN 3 THEN 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/amp' || CAST(doc_id AS VARCHAR)
            ELSE 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/r' || CAST(doc_id AS VARCHAR) ||
              '?gclid=x&utm_source=a' END AS start_url,
          CASE doc_id % 5
            WHEN 1 THEN 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/art' || CAST(doc_id AS VARCHAR) ||
              '?gclid=abc&utm_source=feed'
            WHEN 2 THEN 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/art' || CAST(doc_id AS VARCHAR)
            WHEN 3 THEN 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/amp' || CAST(doc_id AS VARCHAR)
            WHEN 4 THEN 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/amp' || CAST(doc_id AS VARCHAR) ||
              '?utm_campaign=b'
            ELSE 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/art' || CAST(doc_id AS VARCHAR) END AS fetch_url,
          CASE doc_id % 5
            WHEN 1 THEN 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/art' || CAST(doc_id AS VARCHAR) ||
              '?gclid=abc&utm_source=feed'
            ELSE 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/art' || CAST(doc_id AS VARCHAR) END
            AS canonical_key,
          'http://ex' || CAST(doc_id % 97 AS VARCHAR) || '.test/art'
            || CAST(doc_id AS VARCHAR) AS final_key,
          CASE doc_id % 5 WHEN 0 THEN 'none' WHEN 1 THEN 'tracking'
            WHEN 2 THEN 'redirect' ELSE 'canonical' END AS decided_by,
          CAST(CASE WHEN doc_id % 5 IN (2, 4) THEN 1 ELSE 0 END
            AS BIGINT) AS hops
        FROM documents ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{Html, Http, Redirects}
        import graft.text.Urls
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val g = id % 97
            val base = s"http://ex$g.test"
            def page(canonHref: Option[String]): Array[Byte] =
              Http.render(200, "OK",
                Seq("Content-Type" -> "text/html"),
                ("<head>" + canonHref.map(h =>
                  s"""<link rel="canonical" href="$h">""")
                  .getOrElse("") +
                  s"</head><body><p>doc $id</p></body>")
                  .getBytes("UTF-8"))
            def redirect(loc: String): Array[Byte] =
              Http.render(301, "Moved Permanently",
                Seq("Location" -> loc), Array.empty[Byte])
            // the in-task fetch seam: every shape's full wire story,
            // keyed by canonical URL (the follower's key discipline)
            val (startUrl, store) = (id % 5) match {
              case 0 => (s"$base/art$id",
                Map(s"$base/art$id" -> page(None)))
              case 1 => (s"$base/art$id?gclid=abc&utm_source=feed",
                Map(s"$base/art$id?gclid=abc&utm_source=feed" ->
                  page(None)))
              case 2 => (s"$base/r$id",
                Map(s"$base/r$id" -> redirect(s"/art$id"),
                  s"$base/art$id" -> page(None)))
              case 3 => (s"$base/amp$id",
                Map(s"$base/amp$id" -> page(Some(s"/art$id"))))
              case _ => (s"$base/r$id?gclid=x&utm_source=a",
                Map(s"$base/r$id?gclid=x&utm_source=a" ->
                  redirect(s"/amp$id?utm_campaign=b"),
                  s"$base/amp$id?utm_campaign=b" ->
                    page(Some(s"/art$id"))))
            }
            val start = Urls.canonicalize(startUrl).get
            val out = Redirects.follow(start, store.get)
            val fetchUrl = out.finalUrl.get
            // the fetched BODY's own canonical claim (T169 via the
            // real scanner over the real payload)
            val body = Http.parseResponseFullyDecoded(
              store(fetchUrl)).get._2
            val canon = Html
              .extractText(new String(body, "UTF-8")).canonical
              .flatMap(h => Urls.resolve(fetchUrl, h))
              .flatMap(Urls.canonicalize)
            val canonicalKey = canon.getOrElse(fetchUrl)
            val finalKey = Urls.stripTracking(canonicalKey).get
            val decidedBy =
              if (canon.exists(_ != fetchUrl)) "canonical"
              else if (out.hops > 0) "redirect"
              else if (finalKey != fetchUrl) "tracking"
              else "none"
            (id, start, fetchUrl, canonicalKey, finalKey, decidedBy,
              out.hops.toLong)
          }
          .toDF("doc_id", "start_url", "fetch_url", "canonical_key",
            "final_key", "decided_by", "hops")
          .orderBy("doc_id")
      }),

    Q("q265_weak_validators",
      "entity-tag comparison semantics (T175, Revisit.parseETag/" +
        "etagMatches/ifNoneMatchHits — RFC 9110 §8.8.3: the T154 " +
        "conditional-fetch loop sends If-None-Match, but MATCHING it " +
        "needs the spec's two comparisons: §13.1.2 mandates WEAK for " +
        "If-None-Match, so W/\"x\" vs \"x\" IS a 304, while byte-" +
        "exact preconditions need STRONG where any weak side fails): " +
        "per doc, six shapes — strong=strong, stored-weak, probe-" +
        "weak, a LIST whose first tag carries a COMMA INSIDE the " +
        "quotes (the naive-split trap; the real scanner must walk " +
        "quoted regions), '*' (matches any stored entity), and a " +
        "miss list with a malformed unquoted member (skipped, rest " +
        "applies). The stored tag parses off REAL wire bytes. Weak " +
        "hit, strong hit, parsed-tag count, and the resulting action " +
        "(304 keep / 200 refetch) all closed-form; confusing the two " +
        "comparisons flips two shapes. Zero shuffle — per-row header " +
        "logic at ledger line rate",
      Some("""SELECT doc_id,
          CAST(CASE WHEN doc_id % 6 = 1 THEN 1 ELSE 0 END AS BIGINT)
            AS stored_weak,
          CAST(CASE doc_id % 6 WHEN 3 THEN 3 WHEN 4 THEN 0
            WHEN 5 THEN 2 ELSE 1 END AS BIGINT) AS n_tags,
          CAST(CASE WHEN doc_id % 6 = 5 THEN 0 ELSE 1 END AS BIGINT)
            AS weak_hit,
          CAST(CASE WHEN doc_id % 6 IN (0, 3, 4) THEN 1 ELSE 0 END
            AS BIGINT) AS strong_hit,
          CASE WHEN doc_id % 6 = 5 THEN '200' ELSE '304' END
            AS action
        FROM documents ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{Http, Revisit}
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val v = id % 6
            val storedRaw = if (v == 1) s"""W/"v$id"""" else s""""v$id""""
            // the stored tag rides REAL wire bytes through the real
            // header walk (the ledger stores what the server sent)
            val wire = Http.render(200, "OK",
              Seq("Content-Type" -> "text/plain",
                "ETag" -> storedRaw), s"body $id".getBytes("UTF-8"))
            val stored = Http.statusAndHeaders(wire).get._2
              .find(_._1 == "etag").map(_._2)
              .flatMap(Revisit.parseETag)
            val inm = v match {
              case 0 => s""""v$id""""
              case 1 => s""""v$id""""
              case 2 => s"""W/"v$id""""
              case 3 => s""""a,b", W/"x$id", "v$id""""
              case 4 => "*"
              case _ => s""""other", not-quoted, W/"y$id""""
            }
            val parsed = Revisit.parseETagList(inm)
            val nTags = parsed.fold(_ => 0L, _.length.toLong)
            val weakHit = Revisit.ifNoneMatchHits(inm, stored)
            val strongHit = parsed match {
              case Left(_)     => stored.isDefined
              case Right(tags) => stored.exists(st =>
                tags.exists(Revisit.etagMatches(_, st, strong = true)))
            }
            (id, if (stored.exists(_.weak)) 1L else 0L, nTags,
              if (weakHit) 1L else 0L, if (strongHit) 1L else 0L,
              if (weakHit) "304" else "200")
          }
          .toDF("doc_id", "stored_weak", "n_tags", "weak_hit",
            "strong_hit", "action")
          .orderBy("doc_id")
      }),

    Q("q266_range_reassembly",
      "206 Partial Content reassembly (T176, Http.contentRange/" +
        "reassembleRanges — RFC 9110 §14.4/§15.3.7: resumed media " +
        "fetches arrive as ranged captures, and the archive must " +
        "stitch them back before any digest/decode tier runs): per " +
        "doc, five wire shapes — a clean two-segment split, three " +
        "segments OUT OF ORDER, an overlap whose shared bytes agree " +
        "(absorbed — resumers re-send boundary bytes routinely), a " +
        "hole (gap — the archive must not synthesize bytes nobody " +
        "sent), and a contiguous cover whose declared complete " +
        "length LIES (incomplete). Every segment parses off real " +
        "206 wire bytes through the real header walk; verdict, " +
        "union coverage, overlap count, declared total, and the " +
        "reassembled payload's md5 are closed-form. One byte " +
        "mis-stitched flips the md5; trusting the declared total " +
        "over the cover flips shape 5. Zero shuffle — segments of " +
        "one URL live in one task (the T115 record-grain rule)",
      Some("""WITH b AS (SELECT doc_id,
            repeat('d' || CAST(doc_id AS VARCHAR), 4) AS body
          FROM documents),
        c AS (SELECT doc_id, body,
            CAST(length(body) AS BIGINT) AS len,
            CAST(length(body) // 3 AS BIGINT) AS m1,
            CAST(2 * length(body) // 3 AS BIGINT) AS m2 FROM b)
        SELECT doc_id,
          CASE doc_id % 5 WHEN 3 THEN 'gap' WHEN 4 THEN 'incomplete'
            ELSE 'complete' END AS verdict,
          CAST(CASE WHEN doc_id % 5 = 1 THEN 3 ELSE 2 END AS BIGINT)
            AS n_segments,
          CAST(CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END AS BIGINT)
            AS n_overlaps,
          CAST(CASE WHEN doc_id % 5 = 3 THEN len - (m2 - m1) ELSE len
            END AS BIGINT) AS covered_len,
          CAST(CASE WHEN doc_id % 5 = 4 THEN len + 5 ELSE len END
            AS BIGINT) AS total_declared,
          CASE WHEN doc_id % 5 IN (0, 1, 2) THEN md5(body) ELSE ''
            END AS body_md5
        FROM c ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Http
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val body = ("d" + id) * 4
            val bytes = body.getBytes("UTF-8")
            val len = bytes.length
            val m1 = len / 3
            val m2 = 2 * len / 3
            val tot = if (id % 5 == 4) len + 5L else len.toLong
            def wire(f: Int, l: Int): Array[Byte] =
              Http.render(206, "Partial Content",
                Seq("Content-Range" -> s"bytes $f-$l/$tot"),
                java.util.Arrays.copyOfRange(bytes, f, l + 1))
            val wires = (id % 5) match {
              case 0 => Seq(wire(0, m1 - 1), wire(m1, len - 1))
              case 1 => Seq(wire(m2, len - 1), wire(0, m1 - 1),
                wire(m1, m2 - 1))
              case 2 => Seq(wire(0, m2 - 1), wire(m1, len - 1))
              case 3 => Seq(wire(0, m1 - 1), wire(m2, len - 1))
              case _ => Seq(wire(0, m1 - 1), wire(m1, len - 1))
            }
            // each 206 re-parses off its wire bytes: body via the
            // real length-checked walk, range via the real header
            val segs = wires.map { w =>
              val (r, b) = Http.parseResponseWithBody(w).get
              require(r.status == 206 && r.lenMatches)
              val (f, l, t) = Http.headerAll(w, "Content-Range")
                .headOption.flatMap(Http.contentRange).get
              (f, l, t, b)
            }
            val re = Http.reassembleRanges(segs)
            (id, re.verdict, segs.length.toLong, re.nOverlaps,
              re.coveredLen, re.totalDeclared.getOrElse(-1L),
              re.body.filter(_ => re.verdict == "complete")
                .map(bb => Common.md5Hex(bb)).getOrElse(""))
          }
          .toDF("doc_id", "verdict", "n_segments", "n_overlaps",
            "covered_len", "total_declared", "body_md5")
          .orderBy("doc_id")
      }),

    Q("q267_idn_decode",
      "IDN/Punycode host decode ∘ homograph gate (T177, " +
        "graft.text.Punycode — RFC 3492, JDK-IDN-refereed: the T131 " +
        "UTS #39 confusable gate runs on CODE POINTS, so an " +
        "ACE-encoded Cyrillic spoof (xn--…) sails through a gate " +
        "that only ever sees ASCII — decode must come first): per " +
        "doc, four host shapes — plain ASCII; an ACE label hiding a " +
        "Cyrillic-а lookalike (built by the spec-proven ENCODE " +
        "direction, decoded by the read path, then Scripts must " +
        "flag mixed + risk + spoof of the Latin target); a Japanese " +
        "ACE label (allowed combination — mixed, no risk); and an " +
        "INVALID ACE label (truncated variable-length integer) kept " +
        "verbatim with the invalid flag — the frontier must still " +
        "key on the host it saw. Decoded host and every gate count " +
        "closed-form; skipping the decode zeroes shape 2's risk " +
        "row. Zero shuffle — rides the T120 canonicalization map",
      Some("""SELECT doc_id,
          CASE doc_id % 4
            WHEN 0 THEN 'example' || CAST(doc_id % 97 AS VARCHAR) ||
              '.com'
            WHEN 1 THEN 'exаmple' || CAST(doc_id % 97 AS VARCHAR) ||
              '.com'
            WHEN 2 THEN '例え' || CAST(doc_id % 97 AS VARCHAR) ||
              '.jp'
            ELSE 'xn--0.com' END AS decoded_host,
          CAST(CASE WHEN doc_id % 4 IN (1, 2, 3) THEN 1 ELSE 0 END
            AS BIGINT) AS n_ace,
          CAST(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END AS BIGINT)
            AS n_invalid,
          CAST(CASE WHEN doc_id % 4 IN (1, 2) THEN 1 ELSE 0 END
            AS BIGINT) AS mixed,
          CAST(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS BIGINT)
            AS risk,
          CAST(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS BIGINT)
            AS spoof
        FROM documents ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.text.{Punycode, Scripts}
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val g = id % 97
            val latin = s"example$g.com"
            // the WIRE host: ACE labels built through the encode
            // direction (spec-proven inverse), the read path must
            // recover the Unicode form before any gate runs
            val wireHost = (id % 4) match {
              case 0 => latin
              case 1 =>
                s"xn--${Punycode.encode(s"exаmple$g").get}.com"
              case 2 => s"xn--${Punycode.encode(s"例え$g").get}.jp"
              case _ => "xn--0.com" // truncated varint: invalid ACE
            }
            val (decoded, nAce, nInvalid) = Punycode.decodeHost(wireHost)
            // the T131 gates, now over the DECODED host (the q222
            // grain — whole-host classification, COMMON excluded)
            val mix = Scripts.scriptMix(decoded)
            val spoof = Scripts.spoofs(decoded, latin) &&
              decoded != latin
            (id, decoded, nAce.toLong, nInvalid.toLong,
              if (mix.mixed) 1L else 0L,
              if (mix.confusableRisk) 1L else 0L,
              if (spoof) 1L else 0L)
          }
          .toDF("doc_id", "decoded_host", "n_ace", "n_invalid",
            "mixed", "risk", "spoof")
          .orderBy("doc_id")
      }),

    Q("q268_sentence_align",
      "Gale–Church sentence alignment (T178, graft.text.Align — the " +
        "1993 length-correlation DP that turns the T170 document-" +
        "aligned bitext into the SENTENCE pairs translation models " +
        "train on, re-expressed with exact integer costs since the " +
        "determinism gate forbids the original's Gaussian log-" +
        "likelihoods; AlignSpec proves optimality against brute-" +
        "force enumeration): per doc, a source sentence-length " +
        "sequence and one of four target shapes — identical (all " +
        "1-1), a planted 2-1 CONTRACTION (two sentences merged in " +
        "translation), a planted 0-1 INSERTION (translator-added " +
        "sentence), a planted 1-0 DELETION — and the DP must recover " +
        "exactly the planted operation multiset and cost (op " +
        "POSITIONS can tie when lengths coincide; counts and total " +
        "cost cannot). Zero shuffle — one document pair aligns in " +
        "one task, the per-row class; at 100 TB this rides the T170 " +
        "cluster map's existing partitioning",
      Some("""WITH e AS (SELECT doc_id,
            CAST(4 + doc_id % 5 AS BIGINT) AS n FROM documents)
        SELECT doc_id, n AS n_src,
          CAST(CASE doc_id % 4 WHEN 0 THEN n WHEN 2 THEN n + 1
            ELSE n - 1 END AS BIGINT) AS n_tgt,
          CAST(CASE doc_id % 4 WHEN 0 THEN n WHEN 1 THEN n - 2
            WHEN 2 THEN n ELSE n - 1 END AS BIGINT) AS n_11,
          CAST(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS BIGINT)
            AS n_21,
          CAST(0 AS BIGINT) AS n_12,
          CAST(0 AS BIGINT) AS n_22,
          CAST(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END AS BIGINT)
            AS n_10,
          CAST(CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 0 END AS BIGINT)
            AS n_01,
          CAST(CASE doc_id % 4 WHEN 0 THEN 0 WHEN 1 THEN 10 ELSE 15
            END AS BIGINT) AS total_cost
        FROM e ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.text.Align
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val n = (4 + id % 5).toInt
            // source sentence lengths: consecutive-ish, 20..49
            val src = (0 until n).map(i => 20L + (id + i) % 30)
            val tgt = (id % 4) match {
              case 0 => src
              case 1 => // contraction at j: merge j and j+1
                val j = (id % (n - 1)).toInt
                src.patch(j, Seq(src(j) + src(j + 1)), 2)
              case 2 => // insertion at j: a translator-added sentence
                val j = (id % (n + 1)).toInt
                src.patch(j, Seq(20L + (id * 7) % 30), 0)
              case _ => // deletion at j
                val j = (id % n).toInt
                src.patch(j, Nil, 1)
            }
            val (ops, cost) = Align.align(src, tgt)
            val c = Align.opCounts(ops)
            (id, n.toLong, tgt.length.toLong, c("11"), c("21"),
              c("12"), c("22"), c("10"), c("01"), cost)
          }
          .toDF("doc_id", "n_src", "n_tgt", "n_11", "n_21", "n_12",
            "n_22", "n_10", "n_01", "total_cost")
          .orderBy("doc_id")
      }),

    Q("q269_bitext_capstone",
      "bitext mining capstone (T179 ∘ T178 ∘ T170 ∘ T118 — the full " +
        "parallel-corpus chain over REAL page pairs, the fourth " +
        "capstone beside q226/q246/q252): per story, the en and de " +
        "variant pages render as real HTML (hreflang links in the " +
        "head, all sentences in ONE <p> so segmentation is genuinely " +
        "exercised, with a planted honorific 'Dr. Kim' and a planted " +
        "decimal '3.14' that the T179 guards must NOT split on) → " +
        "T118 extraction → hreflang RECIPROCITY gate (every story " +
        "≡0 mod 7 plants a de page missing its en return link — no " +
        "pairs may be mined from it) → T179 sentence split → T178 " +
        "integer Gale–Church over the real sentence char lengths, " +
        "with a planted 2-1 contraction (story ≡1 mod 3) and a " +
        "planted 0-1 translator insertion (story ≡2 mod 3) that the " +
        "DP must recover exactly. Verdict, sentence counts, op " +
        "multiset and cost all closed-form; a splitter guard " +
        "failure changes a length and the cost column catches it. " +
        "Zero shuffle — one story's full chain runs in one task",
      Some("""WITH s AS (SELECT doc_id // 3 AS story FROM documents
            WHERE doc_id % 3 = 0),
        e AS (SELECT story, CAST(3 + story % 3 AS BIGINT) AS k FROM s)
        SELECT story,
          CASE WHEN story % 7 = 0 THEN 'non_reciprocal'
            ELSE 'aligned' END AS verdict,
          k AS n_src,
          CAST(CASE story % 3 WHEN 0 THEN k WHEN 1 THEN k - 1
            ELSE k + 1 END AS BIGINT) AS n_tgt,
          CAST(CASE WHEN story % 7 = 0 THEN 0
            WHEN story % 3 = 0 THEN k
            WHEN story % 3 = 1 THEN k - 2 ELSE k END AS BIGINT)
            AS n_11,
          CAST(CASE WHEN story % 7 <> 0 AND story % 3 = 1 THEN 1
            ELSE 0 END AS BIGINT) AS n_21,
          CAST(CASE WHEN story % 7 <> 0 AND story % 3 = 2 THEN 1
            ELSE 0 END AS BIGINT) AS n_01,
          CAST(CASE WHEN story % 7 = 0 THEN 0
            WHEN story % 3 = 1 THEN 10
            WHEN story % 3 = 2 THEN 15 ELSE 0 END AS BIGINT)
            AS total_cost
        FROM e ORDER BY story"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Html
        import graft.text.{Align, Sentences, Urls}
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .filter(_ % 3 == 0)
          .map { id =>
            val story = id / 3
            val k = (3 + story % 3).toInt
            def lenOf(i: Int): Int = 30 + ((6 * i + story) % 40).toInt
            // exact-length sentence: prefix + fill + terminal '.'
            def sent(prefix: String, fill: Char, l: Int): String =
              prefix + fill.toString * (l - prefix.length - 1) + "."
            // en sentences: the honorific guard rides sentence 0,
            // the decimal guard sentence 1 (k >= 3 always)
            def enPrefix(i: Int): String = i match {
              case 0 => s"S$story Dr. Kim "
              case 1 => s"S$i 3.14 "
              case _ => s"S$i "
            }
            val enSents = (0 until k).map(i =>
              sent(enPrefix(i), 'a', lenOf(i)))
            val deSents: Seq[String] = (story % 3) match {
              case 0 => (0 until k).map(i =>
                sent(s"T$i ", 'b', lenOf(i)))
              case 1 => // contraction: de merges en j and j+1
                val j = (story % (k - 1)).toInt
                (0 until k).flatMap { i =>
                  if (i == j) Some(sent(s"T$i ", 'b',
                    lenOf(j) + lenOf(j + 1)))
                  else if (i == j + 1) None
                  else Some(sent(s"T$i ", 'b', lenOf(i)))
                }
              case _ => // translator-added sentence at j
                val j = (story % (k + 1)).toInt
                val base = (0 until k).map(i =>
                  sent(s"T$i ", 'b', lenOf(i)))
                base.patch(j, Seq(sent("X ", 'c',
                  30 + ((story * 11) % 40).toInt)), 0)
            }
            def page(sents: Seq[String],
                links: Seq[String]): String =
              "<head>" + links.map(l =>
                s"""<link rel="alternate" hreflang="$l" """ +
                  s"""href="/$l/story$story">""").mkString +
                s"</head><body><p>${sents.mkString(" ")}</p></body>"
            val enLinks = Seq("de")
            val deLinks = if (story % 7 == 0) Nil else Seq("en")
            val enEx = Html.extractText(page(enSents, enLinks))
            val deEx = Html.extractText(page(deSents, deLinks))
            def resolved(lang: String, ex: Html.Extracted)
                : Seq[String] = ex.alternates.flatMap { case (lg, h) =>
              Urls.resolve(variantUrl(story, lang), h)
                .flatMap(Urls.canonicalize).map(u => s"$lg>$u")
            }
            val enUrl = Urls.canonicalize(variantUrl(story, "en")).get
            val deUrl = Urls.canonicalize(variantUrl(story, "de")).get
            val reciprocal =
              resolved("en", enEx).contains(s"de>$deUrl") &&
                resolved("de", deEx).contains(s"en>$enUrl")
            val srcSents = Sentences.split(enEx.text)
            val tgtSents = Sentences.split(deEx.text)
            require(srcSents == enSents && tgtSents == deSents,
              s"segmentation drifted for story $story")
            if (!reciprocal)
              (story, "non_reciprocal", srcSents.length.toLong,
                tgtSents.length.toLong, 0L, 0L, 0L, 0L)
            else {
              val (ops, cost) = Align.align(
                srcSents.map(_.length.toLong),
                tgtSents.map(_.length.toLong))
              val c = Align.opCounts(ops)
              (story, "aligned", srcSents.length.toLong,
                tgtSents.length.toLong, c("11"), c("21"), c("01"),
                cost)
            }
          }
          .toDF("story", "verdict", "n_src", "n_tgt", "n_11", "n_21",
            "n_01", "total_cost")
          .orderBy("story")
      }),

    Q("q273_warc_segments",
      "WARC record segmentation (T183, ISO 28500 §5.18–5.20 — the " +
        "one archive feature the tier lacked, VERDICT-r13 item 7): " +
        "per doc a logical record writes as real WARC segment " +
        "records (segment 1 keeps the record's type/URI and " +
        "WARC-Segment-Number 1; continuations carry Segment-Number " +
        "+ Segment-Origin-ID; the last adds Segment-Total-Length), " +
        "then the walker re-parses the raw records and REASSEMBLES: " +
        "four wire shapes — unsegmented passthrough, a clean " +
        "3-segment stitch (per-segment block digests verified, the " +
        "logical block digest re-derived), a dropped middle segment " +
        "(gap — the archive must not synthesize bytes nobody " +
        "wrote), and a Segment-Total-Length LIE (conflict — the " +
        "declared total never overrides the stitched evidence). " +
        "Verdict, segment count, stitched length and payload md5 " +
        "are closed-form; one mis-ordered or mis-attributed chunk " +
        "flips the md5. Zero shuffle — one logical record's " +
        "segments live in one task (the T115 record-grain rule)",
      Some("""WITH b AS (SELECT doc_id,
            repeat('w' || CAST(doc_id AS VARCHAR), 6) AS body
          FROM documents),
        c AS (SELECT doc_id, body,
            CAST(length(body) AS BIGINT) AS len FROM b)
        SELECT doc_id,
          CASE doc_id % 4 WHEN 2 THEN 'gap' WHEN 3 THEN 'conflict'
            ELSE 'complete' END AS verdict,
          CAST(CASE doc_id % 4 WHEN 0 THEN 1 WHEN 2 THEN 2 ELSE 3 END
            AS BIGINT) AS n_segments,
          CAST(CASE WHEN doc_id % 4 = 2 THEN 0 ELSE len END AS BIGINT)
            AS total_len,
          CASE WHEN doc_id % 4 IN (0, 1) THEN md5(body) ELSE '' END
            AS body_md5
        FROM c ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Warc
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            // len = 6·(digits+1) is divisible by 6, so ceil(len/3)
            // splits into exactly three equal chunks
            val body = ("w" + id) * 6
            val bytes = body.getBytes("UTF-8")
            val maxSeg =
              if (id % 4 == 0) bytes.length else (bytes.length + 2) / 3
            val segs = Warc.writeSegmented("resource",
              "2024-01-01T00:00:00Z", bytes, maxSeg,
              targetUri = Some(s"https://ex.org/r/$id"),
              contentType = Some("text/plain"))
            val records = (id % 4) match {
              case 2 => // middle continuation lost in transit
                Seq(segs.head, segs.last)
              case 3 => // declared total lies by 9 bytes
                val lastTxt = new String(segs.last, "ISO-8859-1")
                val lied = lastTxt.replace(
                  s"WARC-Segment-Total-Length: ${bytes.length}",
                  s"WARC-Segment-Total-Length: ${bytes.length + 9}")
                segs.init :+ lied.getBytes("ISO-8859-1")
              case _ => segs
            }
            val re = Warc.reassembleSegments(records)
            (id, re.verdict, re.nSegments.toLong, re.totalLen,
              re.body.filter(_ => re.verdict == "complete")
                .map(Common.md5Hex).getOrElse(""))
          }
          .toDF("doc_id", "verdict", "n_segments", "total_len",
            "body_md5")
          .orderBy("doc_id")
      }),

    Q("q274_bitext_decontamination",
      "sentence-level bitext decontamination (T184 — VERDICT-r13 " +
        "stretch item 8, T179 ∘ T1 composed: the release check a " +
        "parallel corpus actually runs before shipping): per story " +
        "the en/de pages split into sentences (T179) and zip into " +
        "1-1 pairs; every pair's SOURCE sentence is keyed by md5 of " +
        "its terminal-stripped text and equi-joined against the " +
        "sentence keys of the WHOLE monolingual corpus (documents " +
        "through the same T179 splitter) — a pair whose en side " +
        "already exists verbatim in the pretraining pool is " +
        "contamination, not parallel signal, and is dropped. Every " +
        "story ≡0 mod 5 plants its en sentence 0 as a verbatim copy " +
        "of the story's own corpus document, so the join MUST find " +
        "it (a normalization drift on either side under- or " +
        "over-flags and hash-fails). Scale shape: both sides reduce " +
        "to 16-byte sentence keys in narrow maps — ONE equi-shuffle " +
        "on the key, sentences never move; the corpus side " +
        "partial-aggregates to distinct keys map-side",
      Some("""WITH s AS (SELECT doc_id // 3 AS story FROM documents
            WHERE doc_id % 3 = 0)
        SELECT story,
          CAST(4 + story % 3 AS BIGINT) AS n_pairs,
          CAST(CASE WHEN story % 5 = 0 THEN 1 ELSE 0 END AS BIGINT)
            AS n_contaminated,
          CAST(4 + story % 3 -
            CASE WHEN story % 5 = 0 THEN 1 ELSE 0 END AS BIGINT)
            AS n_kept
        FROM s ORDER BY story"""),
      (s, d) => {
        import s.implicits._
        import graft.text.Sentences
        // the dedup key: terminal-stripped, trimmed sentence text —
        // ONE definition used by both sides
        def key(sent: String): String = {
          val t = sent.trim
          val core = if (t.nonEmpty && ".!?".contains(t.last))
            t.dropRight(1).trim else t
          Common.md5Hex(core.getBytes("UTF-8"))
        }
        val docs = table(s, d, "documents")
          .select(col("doc_id"), col("text"))
        // monolingual pool: every corpus sentence's key (distinct —
        // the map-side-combinable form)
        val pool = docs.as[(Long, String)]
          .flatMap { case (_, text) => Sentences.split(text).map(key) }
          .toDF("k").distinct()
        // mined pairs: per story, k 1-1 sentence pairs; story%5==0
        // plants its own corpus doc's text as en sentence 0
        val mined = docs.as[(Long, String)]
          .filter(_._1 % 3 == 0)
          .flatMap { case (id, text) =>
            val story = id / 3
            val k = (4 + story % 3).toInt
            def lenOf(i: Int): Int = 30 + ((5 * i + story) % 40).toInt
            def sent(prefix: String, fill: Char, l: Int): String =
              prefix + fill.toString * (l - prefix.length - 1) + "."
            val en = (0 until k).map { i =>
              if (i == 0 && story % 5 == 0) text + "."
              else sent(s"S$i ", 'a', lenOf(i))
            }
            val de = (0 until k).map(i => sent(s"T$i ", 'b', lenOf(i)))
            val enText = en.mkString(" ")
            val deText = de.mkString(" ")
            val srcSents = Sentences.split(enText)
            val tgtSents = Sentences.split(deText)
            require(srcSents.length == k && tgtSents.length == k,
              s"segmentation drifted for story $story: " +
                s"${srcSents.length}/${tgtSents.length}")
            srcSents.zip(tgtSents).map { case (a, b) =>
              (story, key(a), key(b))
            }
          }
          .toDF("story", "src_k", "tgt_k")
        mined.join(pool, mined("src_k") === pool("k"), "left")
          .groupBy("story")
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("k").isNotNull, 1L).otherwise(0L))
              .as("n_contaminated"),
            sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_kept"))
          .orderBy("story")
      })
  )
}
