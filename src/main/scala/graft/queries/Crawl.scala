package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Common
import graft.queries.Common.{sqlHash32, sqlWords, table}

/** The crawl-frontier wave (round 10): the operators that turn the
  * archive-ingest stack (T104 gzip → T115 WARC → T117 HTTP → T119
  * charset → T118 HTML → T120 canonical URL) into an operating crawl
  * frontier — politeness (robots exclusion), discovery (sitemaps),
  * and payload-type trust (magic-byte sniffing).
  *
  * Scale shape: all per-row work — robots.txt is parsed once per HOST
  * into a rules DIMENSION ([[hostRobots]]; bounded by hosts, not
  * pages, spec-enforced by a parse counter) that pages broadcast-join
  * for their verdict ([[robotsGate]]); the rollup is the T120
  * canonical-key groupBy the frontier already pays. Nothing here
  * shuffles document text.
  */
object Crawl {

  /** Per-host robots DIMENSION (round 11, VERDICT-r10 item 1): parse
    * each host's robots.txt ONCE and pre-select the crawler's merged
    * rule group — (host, rules, delay_s), the frame the frontier
    * broadcasts at realistic host counts (keyed join past that).
    * `parses` counts actual `Robots.parse` invocations so a spec can
    * assert parse work ∝ HOSTS, never pages.
    */
  def hostRobots(s: SparkSession, docs: DataFrame,
      parses: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    import s.implicits._
    import graft.text.Robots
    docs.select((col("doc_id") % 97).as("g")).distinct().as[Long]
      .map { g =>
        parses.foreach(_.add(1L))
        val robots = Robots.parse(
          s"User-agent: *\r\nCrawl-delay: ${1 + g % 5}\r\n" +
            "Disallow: /private/\r\n")
        val grp = Robots.group(robots, "graftbot")
        (s"ex$g.test",
          grp.map(_.rules.map(r => (r.allow, r.pattern)))
            .getOrElse(Seq.empty),
          grp.flatMap(_.crawlDelay).getOrElse(0L))
      }
      .toDF("host", "rules", "delay_s")
  }

  /** Pages × host-rules verdict join: canonical pages broadcast-join
    * the [[hostRobots]] dimension on host and evaluate their own
    * path against the joined rule array ([[graft.text.Robots.evalRules]]
    * — the per-URL half of the parse/evaluate split). Emits the
    * allowed (host, url, delay_s) frame both frontiers roll up.
    */
  def robotsGate(s: SparkSession, pages: DataFrame, rules: DataFrame)
      : DataFrame = {
    import s.implicits._
    import graft.text.Robots
    // LEFT join: a host with no rules row (robots.txt never fetched,
    // or the fetch failed) is ALLOWED with no delay — the RFC 9309
    // §2.3.1 default; an inner join would silently fail-closed and
    // drop the host from the frontier (review-r11 finding)
    pages.join(broadcast(rules), Seq("host"), "left_outer")
      .select(col("host"), col("url"), col("path_q"),
        coalesce(col("rules"),
          array().cast("array<struct<_1:boolean,_2:string>>"))
          .as("rules"),
        coalesce(col("delay_s"), lit(0L)).as("delay_s"))
      .as[(String, String, String, Seq[(Boolean, String)], Long)]
      .flatMap { case (host, url, pathQ, rs, delay) =>
        if (Robots.evalRules(rs.map { case (a, p) => Robots.Rule(a, p) },
            pathQ)) Some((host, url, delay))
        else None
      }
      .toDF("host", "url", "delay_s")
  }

  /** Shared builder (q216 and CrawlSpec call THIS, not a
    * re-derivation): the q216 frontier pipeline over any
    * frame with a `doc_id` column — synthesize messy URLs + a
    * /private/ probe per doc, canonicalize (T120), gate through the
    * per-HOST robots dimension (T121; parse once per host, verdict by
    * broadcast join — round 11 production shape), roll up per host.
    * Returns the UNSORTED rollup; q216 adds its output ordering.
    */
  def frontierSchedule(s: SparkSession, docs: DataFrame,
      parses: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame =
    politenessRollup(
      robotsGate(s, frontierPages(s, docs), hostRobots(s, docs, parses)))

  /** Shared synth (q216/q229/q247 — review-r12: q247 had hand-synced
    * copies of this and [[politenessRollup]], silently breakable):
    * the frontier's messy candidate URLs per doc — (id%3+1) clean
    * pages, optional per-doc `extras` (q247 injects its trap URLs
    * here), and the /private/ probe the robots gate must drop — each
    * canonicalized (T120) to (host, url, path_q).
    */
  def frontierPages(s: SparkSession, docs: DataFrame,
      extras: Long => Seq[String] = _ => Nil): DataFrame = {
    import s.implicits._
    import graft.text.Urls
    docs.select(col("doc_id")).as[Long]
      .flatMap { id =>
        val g = id % 97
        val raws = ((0 until (id % 3 + 1).toInt).map(j =>
          s"HTTP://EX$g.TEST:80/p$id/$j?x=1#frag") ++
          extras(id)) :+
          s"http://ex$g.test/private/$id" // the gate must drop this
        raws.flatMap { raw =>
          Urls.canonicalize(raw).flatMap { cu =>
            Urls.parse(cu).map { parts =>
              (parts.host, cu,
                parts.path + parts.query.map("?" + _).getOrElse(""))
            }
          }
        }
      }
      .toDF("host", "url", "path_q")
  }

  /** Shared rollup: the per-host politeness schedule off a gated
    * (host, url, delay_s) frame — URL count, makespan, md5 of the
    * sorted queue. ONE host-keyed shuffle.
    *
    * `concurrency` = k parallel connections per host (T125 made
    * production-true, VERDICT-r12 item 5: production frontiers run k
    * connections per host, not a serial queue). The last fetch on
    * any of k round-robin lanes starts after ceil((n−1)/k) delay
    * periods, so makespan = ceil((n−1)/k)·delay — exact integer
    * ceil-div, and k = 1 reproduces the serial (n−1)·delay
    * bit-for-bit (every pre-existing caller/oracle unchanged).
    */
  def politenessRollup(gated: DataFrame, concurrency: Int = 1)
      : DataFrame = {
    require(concurrency >= 1, s"concurrency must be >= 1: $concurrency")
    val k = concurrency.toLong
    gated.groupBy("host", "delay_s")
      .agg(count(lit(1)).as("n_urls"),
        md5(concat_ws(",", sort_array(collect_list(col("url")))))
          .as("order_md5"))
      .select(col("host"), col("n_urls"), col("delay_s"),
        (expr(s"(n_urls - 1 + ${k - 1}) div $k") * col("delay_s"))
          .as("makespan_s"),
        col("order_md5"))
  }

  /** Shared builder (q220/q230): the host link-graph extraction — per
    * doc, HTML exercising every RFC 3986 reference form (plus mailto:/
    * data: links the canonicalizer must DROP) through the REAL
    * extract → resolve → canonicalize pipeline, emitting one
    * (doc_id, src_host, dst_host) row per surviving link. Narrow map;
    * the host graph any consumer aggregates from this is
    * edges-not-pages sized at 100 TB.
    */
  def hostLinks(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    import graft.multimodal.Html
    import graft.text.Urls
    docs.select(col("doc_id")).as[Long]
      .flatMap { id =>
        val g = id % 97
        val base = s"http://ex$g.test/dir/page$id.html"
        val html =
          s"""<html><body>
             |<a href="http://ex${(g + 1) % 97}.test/a">abs</a>
             |<a href="//ex${(g + 2) % 97}.test/b?k=1">proto-rel</a>
             |<a href="/c?z=1">rooted</a>
             |<a href="../up/./d">dotted</a>
             |<a href="?q=2">query-only</a>
             |<a href="/e?a=1&amp;b=2">entity</a>
             |<a href="#frag">fragment-only</a>
             |<a href="mailto:u@ex$g.test">mail</a>
             |<a href="data:,x">inline</a>
             |</body></html>""".stripMargin
        val srcHost = s"ex$g.test"
        Html.extractText(html).hrefs
          .flatMap(h => Urls.resolve(base, h))
          .flatMap(Urls.canonicalize)
          .flatMap(Urls.parse)
          .map(p => (id, srcHost, p.host))
      }
      .toDF("doc_id", "src_host", "dst_host")
  }

  /** Shared builder (q230/q237): weighted integer PageRank over the
    * [[hostLinks]] host graph — 5 unrolled iterations, ranks scaled
    * 1e9, damping 85/100, per-edge contribution pr·w DIV out_weight;
    * all integer division + associative sums, bit-identical
    * cross-engine (q143's discipline). The localCheckpoint pins the
    * corpus extraction so the 5 rank rounds consume the tiny edge
    * frame, not 5 re-parses; everything after the extraction is
    * host-graph-sized (broadcast by AQE). Returns (host, pr).
    */
  def hostRank(s: SparkSession, docs: DataFrame): DataFrame = {
    val edges = hostLinks(s, docs)
      .groupBy(col("src_host").as("src"), col("dst_host").as("dst"))
      .agg(count(lit(1)).as("w"))
    // nodes is consumed 6× (the seed + all 5 iterations): without the
    // checkpoint each consumer re-derives it from the corpus and only
    // exchange REUSE — plan luck, not construction — kept the probe at
    // one scan (VERDICT-r11 item 2). Pinning the 97-row frame makes
    // "one corpus scan per rank" structural; PlanSpec gates it.
    val nodes = docs
      .select(concat(lit("ex"), col("doc_id") % 97, lit(".test"))
        .as("h")).distinct()
    rankFromEdges(edges, nodes)
  }

  /** The rank core of [[hostRank]] over an ALREADY-BUILT weighted
    * edge frame (src, dst, w) + node frame (h) — split out for q257,
    * whose standing frontier accumulates edges across micro-batches
    * and re-ranks the growing graph each batch (one builder, not a
    * hand-synced copy — the review-r12 apportionment lesson). Both
    * inputs are localCheckpoint'd here: edges feed outW + 5
    * iterations, nodes 6 consumers.
    */
  def rankFromEdges(edgesIn: DataFrame, nodesIn: DataFrame)
      : DataFrame = {
    val edges = edgesIn.localCheckpoint()
    val nodes = nodesIn.localCheckpoint()
    val outW = edges.groupBy("src").agg(sum(col("w")).as("ow"))
    var ranks = nodes.withColumn("pr", lit(1000000000L))
    for (_ <- 1 to 5) {
      val sums = edges.join(outW, "src")
        .join(ranks.withColumnRenamed("h", "src"), "src")
        .select(col("dst").as("h"),
          expr("(pr * w) div ow").as("c"))
        .groupBy(col("h")).agg(sum(col("c")).as("in_c"))
      ranks = nodes.join(sums, Seq("h"), "left")
        .select(col("h"),
          (lit(150000000L) +
            expr("(coalesce(in_c, 0L) * 85) div 100")).as("pr"))
    }
    ranks.select(col("h").as("host"), col("pr"))
  }

  /** Shared builder (q237/q246; this scale-sensitive block once had
    * three hand-synced copies, only one plan-gated):
    * largest-remainder apportionment of `units` across the (host, pr)
    * frame — floor shares by exact integer
    * cross-multiplication, the leftover +1 each to the largest
    * remainders (rem desc, host asc tiebreak — the host STRING in
    * both engines, review-r11). The remainder rank is an inclusive
    * running sum of 1 in EXACTLY the declarative shape (empty
    * partitionSpec, explicit ROWS frame, non-nullable LONG weight,
    * ANSI sum) the RunningTotal strategy auto-routes onto the
    * two-phase parallel prefix scan; PlanSpec gates the route on
    * q237. Returns (host, pr, quota); quotas sum to `units` exactly.
    */
  def apportion(ranksIn: DataFrame, units: Long): DataFrame = {
    val ranks = ranksIn.localCheckpoint() // 3 consumers: total, floors, rank
    val tot = ranks.agg(sum(col("pr")).as("sp"))
    val a = ranks.crossJoin(broadcast(tot))
      .select(col("host"), col("pr"),
        expr(s"($units * pr) div sp").as("fl"),
        expr(s"($units * pr) % sp").as("rem"))
    val lo = a.agg((lit(units) - sum(col("fl"))).as("lft"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("host"))
      .rowsBetween(org.apache.spark.sql.expressions
        .Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    a.withColumn("rk", sum(lit(1L)).over(w))
      .crossJoin(broadcast(lo))
      .select(col("host"), col("pr"),
        (col("fl") + when(col("rk") <= col("lft"), 1L)
          .otherwise(0L)).as("quota"))
  }

  /** Shared builder (q246/q257): the per-host DECISION dimension off
    * a (g, np, nd) mass frame — robots-fetch policy through the real
    * follower + parser (the five-scenario builder), schedule gate
    * from the real rule evaluation, revisit verdict off real
    * rendered cache headers. Returns (host, policy, delay_s,
    * n_allowed, revisit). One narrow map over the host dimension.
    */
  def hostDecisionDim(s: SparkSession, mass: DataFrame): DataFrame = {
    import s.implicits._
    import graft.multimodal.{Http, Revisit}
    import graft.text.Robots
    mass.as[(Long, Long, Long)]
      .map { case (g, np, nd) =>
        val host = s"ex$g.test"
        val (policy, bytes) = robotsFetchScenario(g)
        val (privOk, pubOk, delay) = policy match {
          case "rules" =>
            val robots = Robots.parse(
              new String(bytes.get, "UTF-8"))
            (Robots.isAllowed(robots, "graftbot", s"/private/x"),
              Robots.isAllowed(robots, "graftbot", s"/pub/x"),
              Robots.group(robots, "graftbot")
                .flatMap(_.crawlDelay).getOrElse(0L))
          case "allow_all" => (true, true, 0L)
          case _           => (false, false, 0L)
        }
        val allowed = (if (pubOk) np else 0L) +
          (if (privOk) nd else 0L)
        // revisit verdict: one cached-response profile per host
        val age = (g % 7) * 400
        val headers = (g % 3) match {
          case 0 => Seq("Cache-Control" -> "max-age=1000",
            "ETag" -> s""""h$g"""")
          case 1 => Seq("Cache-Control" -> "no-store")
          case _ => Seq("Cache-Control" -> "no-cache",
            "Date" -> "Tue, 14 Nov 2023 22:13:20 GMT",
            "Last-Modified" -> "Tue, 14 Nov 2023 16:40:00 GMT")
        }
        val cached = Http.render(200, "OK",
          ("Content-Type" -> "text/html") +: headers,
          s"cached page of $host".getBytes("UTF-8"))
        val revisit = Revisit.decideFromResponse(cached, age)
          .get.action
        (host, policy, delay, allowed, revisit)
      }
      .toDF("host", "policy", "delay_s", "n_allowed", "revisit")
  }

  /** Shared final join of the decision chain (q246/q257): quota ×
    * the per-host decision dimension → fetch allotment, makespan,
    * revisit verdict, action. UNSORTED; callers add ordering.
    */
  def decisionTable(quota: DataFrame, hostDim: DataFrame): DataFrame =
    quota.join(hostDim, Seq("host"))
      .select(col("host"), col("pr"), col("quota"), col("policy"),
        col("delay_s"),
        col("n_allowed"),
        least(col("quota"), col("n_allowed")).as("fetch_allot"),
        (greatest(least(col("quota"), col("n_allowed")) - 1,
          lit(0L)) * col("delay_s")).as("makespan_s"),
        col("revisit"),
        when(col("policy") === "disallow_all", "blocked")
          .when(col("revisit") === "skip", "skip")
          .otherwise("crawl").as("action"))

  /** The decision-capstone oracle q246 and q257 SHARE: the batch and
    * the drained-streaming frontier must both equal this exact
    * closed-form decision table (the drained-≡-batch discipline made
    * literal — one SQL string, two execution topologies).
    */
  private[queries] def decisionCapstoneOracle: String = {
    val prIters = (1 to 5).map { k =>
      s"""pr$k AS (SELECT n0.h,
            CAST(150000000 + (COALESCE(s.c, 0) * 85) // 100 AS BIGINT)
              AS pr
          FROM n0 LEFT JOIN (SELECT e.dst AS h,
              SUM((p.pr * e.w) // ow.ow) AS c
            FROM e JOIN pr${k - 1} p ON e.src = p.h
            JOIN ow ON e.src = ow.src GROUP BY e.dst) s USING (h))"""
    }.mkString(",\n        ")
    s"""WITH o AS (SELECT * FROM (VALUES (1, 1), (2, 1), (0, 5))
            t(off, w)),
          l AS (SELECT doc_id % 97 AS g,
              (doc_id % 97 + o.off) % 97 AS dg, o.w
            FROM documents, o),
          e AS (SELECT g AS src, dg AS dst, CAST(SUM(w) AS BIGINT) AS w
            FROM l GROUP BY g, dg),
          ow AS (SELECT src, SUM(w) AS ow FROM e GROUP BY src),
          n0 AS (SELECT DISTINCT doc_id % 97 AS h FROM documents),
          pr0 AS (SELECT h, CAST(1000000000 AS BIGINT) AS pr FROM n0),
          $prIters,
          tot AS (SELECT SUM(pr) AS sp FROM pr5),
          alloc AS (SELECT h, pr,
              (100000 * pr) // sp AS fl,
              (100000 * pr) % sp AS rem
            FROM pr5, tot),
          lo AS (SELECT 100000 - SUM(fl) AS lft FROM alloc),
          r AS (SELECT h, pr, fl,
              row_number() OVER (ORDER BY rem DESC,
                'ex' || CAST(h AS VARCHAR) || '.test') AS rk
            FROM alloc),
          q AS (SELECT h, pr,
              CAST(fl + CASE WHEN rk <= (SELECT lft FROM lo) THEN 1
                ELSE 0 END AS BIGINT) AS quota
            FROM r),
          m AS (SELECT doc_id % 97 AS g,
              CAST(SUM(doc_id % 3 + 1) AS BIGINT) AS np,
              CAST(COUNT(*) AS BIGINT) AS nd
            FROM documents GROUP BY 1),
          c AS (SELECT q.h, q.pr, q.quota, m.np, m.nd,
              CASE q.h % 5 WHEN 0 THEN 'rules' WHEN 1 THEN 'allow_all'
                WHEN 2 THEN 'disallow_all' WHEN 3 THEN 'rules'
                ELSE 'allow_all' END AS policy,
              CASE WHEN q.h % 5 IN (0, 3) THEN 1 + q.h % 5
                ELSE 0 END AS delay_s,
              CASE WHEN q.h % 3 = 0 THEN
                  CASE WHEN (q.h % 7) * 400 < 1000 THEN 'skip'
                    ELSE 'revalidate' END
                WHEN q.h % 3 = 1 THEN 'fetch'
                ELSE 'revalidate' END AS revisit
            FROM q JOIN m ON m.g = q.h),
          s AS (SELECT *,
              CASE policy WHEN 'rules' THEN np
                WHEN 'allow_all' THEN np + nd ELSE 0 END AS n_allowed
            FROM c),
          f AS (SELECT *, LEAST(quota, n_allowed) AS fetch_allot
            FROM s)
        SELECT 'ex' || CAST(h AS VARCHAR) || '.test' AS host,
          pr, quota, policy,
          CAST(delay_s AS BIGINT) AS delay_s,
          CAST(n_allowed AS BIGINT) AS n_allowed,
          CAST(fetch_allot AS BIGINT) AS fetch_allot,
          CAST(GREATEST(fetch_allot - 1, 0) * delay_s AS BIGINT)
            AS makespan_s,
          revisit,
          CASE WHEN policy = 'disallow_all' THEN 'blocked'
            WHEN revisit = 'skip' THEN 'skip' ELSE 'crawl' END
            AS action
        FROM f ORDER BY host"""
  }

  /** Shared builder (q240/q246 — review-r12: the five-scenario store
    * synthesis was duplicated): fetch host `g`'s robots.txt through
    * the REAL T144 follower against one of five rendered stores —
    * direct 200 rules / 404 / 500 / 301-chase / redirect loop, by
    * g % 5. Returns [[graft.multimodal.Redirects.fetchRobots]]'s
    * (policy, body bytes when policy == rules).
    */
  /** Sitemap-XML render helpers the tree-walk queries share
    * (q243/q252 — one copy, review-r12).
    */
  def sitemapUrlset(locs: Seq[String]): String =
    "<urlset>" + locs.map(l =>
      s"<url><loc>$l</loc></url>").mkString + "</urlset>"

  def sitemapIndex(locs: Seq[String]): String =
    "<sitemapindex>" + locs.map(l =>
      s"<sitemap><loc>$l</loc></sitemap>").mkString + "</sitemapindex>"

  /** The synthetic per-host robots.txt body every robots scenario
    * shares (q240/q246/q249 — one copy, review-r12).
    */
  def robotsBody(g: Long): String =
    "User-agent: *\nDisallow: /private/\n" +
      s"Crawl-delay: ${1 + g % 5}\n"

  def robotsFetchScenario(g: Long): (String, Option[Array[Byte]]) = {
    import graft.multimodal.{Http, Redirects}
    val host = s"ex$g.test"
    val ru = s"http://$host/robots.txt"
    val body = robotsBody(g).getBytes("UTF-8")
    def resp(st: Int, hs: (String, String)*) =
      Http.render(st, "x", hs.toSeq, Array.empty[Byte])
    val ok = Http.render(200, "OK",
      Seq("Content-Type" -> "text/plain"), body)
    val store = (g % 5) match {
      case 0 => Map(ru -> ok)
      case 1 => Map(ru -> resp(404))
      case 2 => Map(ru -> resp(500))
      case 3 => Map(ru -> resp(301, "Location" -> "/r2.txt"),
        s"http://$host/r2.txt" -> ok)
      case _ => Map(ru -> resp(301, "Location" -> "/b"),
        s"http://$host/b" ->
          resp(301, "Location" -> "/robots.txt"))
    }
    Redirects.fetchRobots(ru, store.get)
  }

  /** Shared builder: per-doc chat conversations rendered + truncated
    * through the REAL T136 pipeline → (doc_id, n_kept, n_trainable).
    * q227 emits the full verdict row; q228 packs these.
    */
  def chatVerdicts(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    import graft.text.ChatTemplate
    import graft.text.ChatTemplate.Turn
    docs.select(col("doc_id")).as[Long]
      .map { id =>
        val k = (id % 3 + 1).toInt
        val turns = Turn("system",
          "you are a helpful assistant") +: // 5 tokens
          (0 until k).flatMap(j => Seq(
            Turn("user", // 6 tokens
              s"question $j about topic w${id}q$j please"),
            Turn("assistant", // 8 tokens
              s"answer $j for w${id}a$j with detail and care")))
        val r = ChatTemplate.render(turns)
        val t =
          if (id % 4 == 0) ChatTemplate.truncate(r, 25)
          else ChatTemplate.truncate(r, Int.MaxValue)
        (id, turns.length.toLong, r.nTokens.toLong,
          t.nKept.toLong, t.nTrainable.toLong,
          t.spans.length.toLong, t.nClipped.toLong,
          t.spans.map { case (a, b) => s"$a:$b" }.mkString(","))
      }
      .toDF("doc_id", "n_turns", "n_tokens", "n_kept",
        "n_trainable", "n_spans", "n_clipped", "spans")
  }

  def qs: Seq[Q] = Seq(

    Q("q212_robots_gate",
      "RFC 9309 robots exclusion gate (T121, graft.text.Robots — the " +
        "politeness layer over T120's canonical keys): per doc, a " +
        "synthesized robots.txt (agent-specific group with wildcard + " +
        "end-anchor rules, an even-doc Allow override, crawl-delay, a " +
        "catch-all * group whose severity varies by doc, comments/CRLF " +
        "noise, a global Sitemap line) is parsed by the real parser " +
        "and four probe paths are evaluated for two crawler tokens: " +
        "graftbot-news (exercises longest-PREFIX agent selection onto " +
        "the graftbot group, then longest-match-wins rule precedence " +
        "incl. the $-anchored Allow beating the shorter Disallow) and " +
        "otherbot (falls to the * group). The oracle knows every " +
        "verdict closed-form, so the hash match proves agent " +
        "selection, rule precedence, anchor/wildcard matching, and " +
        "crawl-delay/sitemap extraction all at once. Pure per-row " +
        "work, zero shuffle; at 100 TB robots parse cost is per-HOST " +
        "(bounded by the frontier's canonical-key groupBy), never " +
        "per-page",
      Some("""SELECT doc_id,
          CAST(4 AS BIGINT) AS n_probes,
          CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT)
            AS n_allowed_bot,
          CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
            AS n_allowed_other,
          CAST(1 + doc_id % 5 AS BIGINT) AS crawl_delay,
          'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
            '.test/sitemap.xml' AS sitemap
        FROM documents ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.text.Robots
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val g = id % 97
            val allowLine =
              if (id % 2 == 0) "Allow: /private/pub$ # carve-out\r\n"
              else ""
            val starRule = if (id % 3 == 0) "/p" else "/"
            val txt =
              s"# synthetic robots for doc $id\r\n" +
                "User-Agent: GraftBot\r\n" +
                "Disallow: /private/\r\n" +
                allowLine +
                "Disallow: /tmp*\r\n" +
                s"Crawl-delay: ${1 + id % 5}\r\n" +
                "\r\n" +
                "User-agent: *\r\n" +
                s"Disallow: $starRule\r\n" +
                "\r\n" +
                s"Sitemap: http://ex$g.test/sitemap.xml\r\n"
            val robots = Robots.parse(txt)
            val probes = Seq("/private/pub", "/private/x",
              "/pub/a?x=1", "/tmpfile")
            val nBot = probes
              .count(Robots.isAllowed(robots, "graftbot-news", _))
            val nOther = probes
              .count(Robots.isAllowed(robots, "otherbot", _))
            (id, probes.length.toLong, nBot.toLong, nOther.toLong,
              Robots.crawlDelay(robots, "graftbot-news")
                .getOrElse(-1L),
              robots.sitemaps.headOption.getOrElse("-"))
          }
          .toDF("doc_id", "n_probes", "n_allowed_bot",
            "n_allowed_other", "crawl_delay", "sitemap")
          .orderBy("doc_id")
      }),

    Q("q213_sitemap_parse",
      "sitemap XML parse (T122, graft.text.Sitemap — the discovery " +
        "half of the frontier; robots Sitemap: lines feed it, its " +
        "locs feed T120 canonicalization): per doc, a synthesized " +
        "sitemaps.org document — every 5th doc a <sitemapindex>, the " +
        "rest <urlset>s of 2-4 <url>s with namespace prefixes on even " +
        "docs, CDATA + entity-escaped + numeric-charref locs, an " +
        "invalid lastmod (2024-13-01) and an out-of-range priority " +
        "(1.5) planted per urlset, XML declaration/comment/DOCTYPE/" +
        "unknown-element noise throughout — is parsed by the real " +
        "scanner; locs canonicalize through T120 (the messy CDATA loc " +
        "must land on the same canonical as the oracle's closed " +
        "form). W3C-datetime validation surfaces as epoch DAYS of the " +
        "stated date (integer, engine-exact). Pure per-row work, " +
        "zero shuffle; at scale sitemap fetches are bounded by hosts",
      Some("""SELECT doc_id,
          CASE WHEN doc_id % 5 = 0 THEN 'sitemapindex'
            ELSE 'urlset' END AS kind,
          CAST(CASE WHEN doc_id % 5 = 0 THEN 2
            ELSE doc_id % 3 + 2 END AS BIGINT) AS n_entries,
          CAST(CASE WHEN doc_id % 5 = 0 THEN 2
            ELSE doc_id % 3 + 1 END AS BIGINT) AS n_valid_lastmod,
          CAST(CASE WHEN doc_id % 5 = 0 THEN 0
            ELSE doc_id % 3 + 1 END AS BIGINT) AS n_valid_priority,
          CAST(CASE WHEN doc_id % 5 = 0 THEN 0
            ELSE doc_id % 3 + 1 END AS BIGINT) AS n_valid_freq,
          CAST(CASE WHEN doc_id % 5 = 0 THEN 19724
            ELSE 19754 + doc_id % 27 END AS BIGINT) AS max_epoch_day,
          CASE WHEN doc_id % 5 = 0
            THEN 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/sm1.xml.gz'
            ELSE 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/s/0?a=1&b=2' END AS canon0,
          CAST(CASE WHEN doc_id % 5 = 0 THEN 2
            ELSE doc_id % 3 + 2 END AS BIGINT) AS n_canon
        FROM documents ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.text.{Sitemap, Urls}
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val g = id % 97
            val xml =
              if (id % 5 == 0)
                s"""<?xml version="1.0" encoding="UTF-8"?>
                   |<!-- index for doc $id -->
                   |<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
                   |  <sitemap><loc>http://ex$g.test/sm1.xml.gz</loc>
                   |    <lastmod>2024-01-01</lastmod></sitemap>
                   |  <sitemap><loc>http://ex$g.test/sm2.xml.gz</loc>
                   |    <lastmod>2024-01-02</lastmod></sitemap>
                   |</sitemapindex>""".stripMargin
              else {
                val p = if (id % 2 == 0) "sm:" else ""
                val ns = if (id % 2 == 0)
                  " xmlns:sm=\"http://www.sitemaps.org/schemas/sitemap/0.9\""
                else ""
                val nUrls = (id % 3 + 2).toInt
                val urls = (0 until nUrls).map { j =>
                  val (loc, lastmod, prio, freq) =
                    if (j == 0)
                      (s"<![CDATA[HTTP://EX$g.TEST:80/s/0?b=2&a=1]]>",
                        f"2024-02-${1 + id % 27}%02d", "1.5", "daily")
                    else if (j == 1)
                      (s"http://ex$g.test/s/1?a=1&amp;b=2&#33;",
                        "2024-13-01", "0.5", "sometimes")
                    else
                      (s"http://ex$g.test/s/$j",
                        "2023-06-15T10:30:00+02:00", "0.8", "weekly")
                  s"""  <${p}url><${p}loc>$loc</${p}loc>
                     |    <${p}lastmod>$lastmod</${p}lastmod>
                     |    <meta>ignored unknown element</meta>
                     |    <${p}changefreq>$freq</${p}changefreq>
                     |    <${p}priority>$prio</${p}priority></${p}url>""".stripMargin
                }.mkString("\n")
                s"""<?xml version="1.0" encoding="UTF-8"?>
                   |<!DOCTYPE urlset>
                   |<!-- urlset for doc $id -->
                   |<${p}urlset$ns>
                   |$urls
                   |</${p}urlset>""".stripMargin
              }
            val parsed = Sitemap.parse(xml)
            val canon = parsed.entries.map(e => Urls.canonicalize(e.loc))
            (id, parsed.kind, parsed.entries.length.toLong,
              parsed.entries.count(_.lastmodEpochDay.isDefined).toLong,
              parsed.entries.count(_.priorityValid).toLong,
              parsed.entries.count(_.changefreqValid).toLong,
              parsed.entries.flatMap(_.lastmodEpochDay)
                .maxOption.getOrElse(-1L),
              canon.headOption.flatten.getOrElse("-"),
              canon.count(_.isDefined).toLong)
          }
          .toDF("doc_id", "kind", "n_entries", "n_valid_lastmod",
            "n_valid_priority", "n_valid_freq", "max_epoch_day",
            "canon0", "n_canon")
          .orderBy("doc_id")
      }),

    Q("q214_mime_sniff",
      "MIME sniffing audit (T123, graft.multimodal.Sniff — WHATWG " +
        "magic-byte detection vs the declared Content-Type): per doc, " +
        "12 REAL payloads from the engine's own writers (PNG/BMP " +
        "headers, an RFC 1952 gzip member, a ustar archive, HTML with " +
        "leading whitespace, <?xml, plain text, a control-byte binary, " +
        "a java.util.zip ZIP, a JFIF JPEG prefix, a RIFF/WAVE clip, a " +
        "RIFF/WEBP header) are sniffed by signature — whitespace-" +
        "skipped tag-terminated HTML patterns, masked RIFF families, " +
        "offset-257 ustar, the standard's binary-data-byte scan as " +
        "the fallback. Every 5th (doc,payload) declares a LYING " +
        "application/pdf; gzip and WAVE declare aliases " +
        "(application/gzip, audio/x-wav) that must count as agreement. " +
        "The oracle knows the full sniffed-type vector and both " +
        "disagreement counts closed-form. Zero shuffle; at 100 TB " +
        "this is the router that keeps mislabeled payloads out of " +
        "the wrong decode tier",
      Some("""SELECT doc_id,
          CAST(12 AS BIGINT) AS n_payloads,
          'image/png;image/bmp;application/x-gzip;application/x-tar;text/html;text/xml;text/plain;application/octet-stream;application/zip;image/jpeg;audio/wave;image/webp'
            AS types,
          CAST(CASE WHEN doc_id % 5 IN (0, 4) THEN 3 ELSE 2 END
            AS BIGINT) AS n_mismatch,
          CAST(CASE WHEN doc_id % 5 IN (0, 3) THEN 1 ELSE 2 END
            AS BIGINT) AS n_alias_ok
        FROM documents ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{AudioVideo, Compressed, Multimodal, Sniff, Tar}
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val zipBytes = {
              val bos = new java.io.ByteArrayOutputStream()
              val zos = new java.util.zip.ZipOutputStream(bos)
              val ze = new java.util.zip.ZipEntry(s"d$id.txt")
              ze.setTime(0L)
              zos.putNextEntry(ze)
              zos.write(s"zip doc $id".getBytes("UTF-8"))
              zos.closeEntry(); zos.close()
              bos.toByteArray
            }
            val payloads: Seq[Array[Byte]] = Seq(
              Multimodal.syntheticPng(2 + (id % 3).toInt, 2, 2),
              Multimodal.syntheticBmp(3, 2, 24),
              Compressed.gzipMember(s"doc $id".getBytes("UTF-8"), None),
              Tar.tarEntry("a.txt", s"tar doc $id".getBytes("UTF-8")) ++
                Tar.tarEnd,
              s"\n\t <!doctype html><html><body>doc $id</body></html>"
                .getBytes("UTF-8"),
              s"""<?xml version="1.0"?><d id="$id"/>""".getBytes("UTF-8"),
              s"plain words for doc $id".getBytes("UTF-8"),
              Array[Byte](0, 1, 2) ++ s"$id".getBytes("UTF-8"),
              zipBytes,
              Array(0xff, 0xd8, 0xff, 0xe0, 0x00, 0x10).map(_.toByte) ++
                "JFIF\u0000".getBytes("US-ASCII"),
              AudioVideo.syntheticWav(4, 1, 8000, 8, (i, _) => (i * 7) % 200),
              "RIFF".getBytes("US-ASCII") ++ Array[Byte](12, 0, 0, 0) ++
                "WEBPVP8 ".getBytes("US-ASCII"))
            val trueTypes = Seq("image/png", "image/bmp",
              "application/x-gzip", "application/x-tar", "text/html",
              "text/xml", "text/plain", "application/octet-stream",
              "application/zip", "image/jpeg", "audio/wave", "image/webp")
            val sniffed = payloads.map(Sniff.sniff)
            val declared = trueTypes.zipWithIndex.map { case (t, j) =>
              if ((id + j) % 5 == 0) "application/pdf"
              else if (j == 2) "application/gzip"
              else if (j == 10) "audio/x-wav"
              else t
            }
            val nMismatch = declared.zip(sniffed)
              .count { case (dcl, sn) => !Sniff.agrees(dcl, sn) }
            val nAliasOk = declared.zip(sniffed).count { case (dcl, sn) =>
              Sniff.agrees(dcl, sn) && dcl.toLowerCase != sn
            }
            (id, payloads.length.toLong, sniffed.mkString(";"),
              nMismatch.toLong, nAliasOk.toLong)
          }
          .toDF("doc_id", "n_payloads", "types", "n_mismatch",
            "n_alias_ok")
          .orderBy("doc_id")
      }),

    Q("q215_zip_entries",
      "ZIP central-directory walk (T124, graft.multimodal.Zip): " +
        "per-doc archives WRITTEN BY THE JDK's ZipOutputStream (the " +
        "independent writer — entry 0 STORED with preset CRC/size, " +
        "the rest DEFLATED with data descriptors, plus a trailing " +
        "archive comment forcing the backward EOCD scan) and read by " +
        "the engine's own parser: EOCD located from the tail, " +
        "central-directory entries decoded, bodies reached through " +
        "local headers with sizes taken from the CD (the local " +
        "fields are zero under flag bit 3 — the streaming-writer " +
        "reality), STORED sliced / DEFLATED re-inflated raw, every " +
        "body witnessed by length+CRC+sum+MD5. Counts, names, byte " +
        "totals, method mix, and per-body MD5s all have closed-form " +
        "twins (q207's synthesis discipline at ZIP grain). Archive " +
        "bytes never shuffle — one task holds one archive",
      Some("""WITH g AS (SELECT doc_id, doc_id % 4 + 1 AS n FROM documents),
        m AS (SELECT g.doc_id, k.k,
            g.doc_id % 60 + 9 * k.k + 3 AS len,
            65 + (g.doc_id + k.k) % 26 AS bv
          FROM g, range(0, 4) k(k) WHERE k.k < g.n)
        SELECT doc_id AS media_id,
          CAST(COUNT(*) AS BIGINT) AS n_entries,
          string_agg('d' || doc_id || '/f' || k || '.txt', ','
            ORDER BY k) AS names,
          string_agg(CASE WHEN k = 0 THEN 'stored' ELSE 'deflated' END,
            ',' ORDER BY k) AS methods,
          CAST(SUM(len) AS BIGINT) AS total_bytes,
          CAST(SUM(len * bv) AS BIGINT) AS body_sum,
          CAST(COUNT(*) AS BIGINT) AS n_crc_ok,
          string_agg(md5(repeat(chr(CAST(bv AS INT)), CAST(len AS INT))),
            ',' ORDER BY k) AS md5s
        FROM m GROUP BY doc_id ORDER BY media_id"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Zip
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val n = (id % 4 + 1).toInt
            val bos = new java.io.ByteArrayOutputStream()
            val zos = new java.util.zip.ZipOutputStream(bos)
            for (k <- 0 until n) {
              val len = (id % 60 + 9 * k + 3).toInt
              val body = Array.fill[Byte](len)(('A' + ((id + k) % 26)).toByte)
              val ze = new java.util.zip.ZipEntry(s"d$id/f$k.txt")
              ze.setTime(0L)
              if (k == 0) { // STORED requires preset size + CRC
                ze.setMethod(java.util.zip.ZipEntry.STORED)
                ze.setSize(len.toLong)
                val c = new java.util.zip.CRC32
                c.update(body)
                ze.setCrc(c.getValue)
              }
              zos.putNextEntry(ze)
              zos.write(body)
              zos.closeEntry()
            }
            zos.setComment(s"archive for doc $id")
            zos.close()
            val es = Zip.parseEntries(bos.toByteArray).getOrElse(Seq.empty)
            (id, es.length.toLong,
              es.map(_.name).mkString(","),
              es.map(e => if (e.method == 0) "stored" else "deflated")
                .mkString(","),
              es.map(_.size).sum,
              es.map(_.bodySum).sum,
              es.count(_.crcOk).toLong,
              es.map(_.bodyMd5).mkString(","))
          }
          .toDF("media_id", "n_entries", "names", "methods",
            "total_bytes", "body_sum", "n_crc_ok", "md5s")
          .orderBy("media_id")
      }),

    Q("q216_frontier_schedule",
      "crawl-frontier politeness scheduler (T125 — the composition " +
        "capstone of the crawl wave): per doc, messy URLs (uppercase " +
        "scheme/host, :80, fragments) plus one /private/ URL flow " +
        "through the REAL pipeline — T120 canonicalization, the T121 " +
        "robots gate (round 11: a per-HOST parsed-rules DIMENSION — " +
        "robots.txt parsed once per host, spec-metered — broadcast-" +
        "joined to pages, whose Disallow DROPS the /private/ probe " +
        "and whose Crawl-delay is host-derived), then " +
        "a per-HOST rollup: URL count, politeness delay, makespan " +
        "(n-1)·delay for a serial fetch queue, and the md5 of the " +
        "delay-ordered fetch sequence (sorted canonical URLs) that " +
        "pins the schedule order engine-exactly. The oracle rebuilds " +
        "every host's queue closed-form — a single URL surviving the " +
        "gate wrongly, or one canonical byte off, hash-fails. ONE " +
        "shuffle keyed by host (the frontier's natural partitioning " +
        "at 100 TB: politeness is per-host state, so host-keyed " +
        "partial-aggregated rollups are the scale-out shape)",
      Some("""WITH u AS (
          SELECT doc_id % 97 AS g,
            'http://ex' || CAST(doc_id % 97 AS VARCHAR) || '.test/p' ||
              CAST(doc_id AS VARCHAR) || '/' || CAST(j.j AS VARCHAR) ||
              '?x=1' AS url
          FROM documents, range(0, 3) j(j) WHERE j.j < doc_id % 3 + 1),
        h AS (SELECT g, COUNT(*) AS n_urls,
            md5(string_agg(url, ',' ORDER BY url)) AS order_md5
          FROM u GROUP BY g)
        SELECT 'ex' || CAST(g AS VARCHAR) || '.test' AS host,
          CAST(n_urls AS BIGINT) AS n_urls,
          CAST(1 + g % 5 AS BIGINT) AS delay_s,
          CAST((n_urls - 1) * (1 + g % 5) AS BIGINT) AS makespan_s,
          order_md5
        FROM h ORDER BY host"""),
      (s, d) =>
        frontierSchedule(s, table(s, d, "documents")).orderBy("host")),

    Q("q217_chunked_decode",
      "HTTP chunked Transfer-Encoding decode (T126, Http.decodeChunked " +
        "— RFC 9112 §7.1, the framing archived HTTP/1.1 responses " +
        "actually use; the T117 layer previously saw only raw bodies): " +
        "per doc, an ASCII body split into 2-5 hex-size chunks (chunk " +
        "0 carries a chunk extension), a 0-chunk and TWO trailer " +
        "fields; every 7th doc's wire is TRUNCATED before the last " +
        "chunk's size line — the decoder must return every byte " +
        "before the defect with well_formed=0 (truncated chunked " +
        "bodies are endemic in crawl archives; the prefix is still " +
        "the payload). The production entry parseResponseDecoded " +
        "sniffs Transfer-Encoding (final-member rule, RFC 9112 §6.1) " +
        "from the real header walk. Oracle knows chunk counts, " +
        "trailer counts, decoded lengths and full decoded-body MD5s " +
        "closed-form. Zero shuffle, per-row work",
      Some("""WITH b AS (SELECT doc_id,
            doc_id % 4 + 2 AS n,
            60 + doc_id % 20 AS bl,
            substr(repeat('w' || CAST(doc_id AS VARCHAR) || ' ', 40),
              1, CAST(60 + doc_id % 20 AS INT)) AS body,
            doc_id % 7 = 0 AS trunc
          FROM documents)
        SELECT doc_id,
          CAST(CASE WHEN trunc THEN n - 1 ELSE n END AS BIGINT)
            AS n_chunks,
          CAST(CASE WHEN trunc THEN 0 ELSE 1 END AS BIGINT)
            AS well_formed,
          CAST(1 AS BIGINT) AS n_exts,
          CAST(CASE WHEN trunc THEN 0 ELSE 2 END AS BIGINT)
            AS n_trailers,
          CAST(CASE WHEN trunc THEN bl - bl // n ELSE bl END AS BIGINT)
            AS body_len,
          md5(substr(body, 1, CAST(CASE WHEN trunc THEN bl - bl // n
            ELSE bl END AS INT))) AS body_md5
        FROM b ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Http
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val n = (id % 4 + 2).toInt
            val bl = (60 + id % 20).toInt
            val body = (("w" + id + " ") * 40).take(bl)
              .getBytes("US-ASCII")
            val trunc = id % 7 == 0
            val base = bl / n
            val rem = bl % n
            val sizes = (0 until n).map(k => base + (if (k < rem) 1 else 0))
            val wire = new java.io.ByteArrayOutputStream()
            def w(str: String): Unit = wire.write(str.getBytes("US-ASCII"))
            var off = 0
            sizes.zipWithIndex.foreach { case (sz, k) =>
              if (!(trunc && k == n - 1)) {
                w(sz.toHexString +
                  (if (k == 0) ";planted=1" else "") + "\r\n")
                wire.write(body, off, sz)
                w("\r\n")
              }
              off += sz
            }
            if (!trunc) {
              w("0\r\n")
              w(s"X-Sum: ${body.map(_ & 0xff).sum}\r\n")
              w("X-Src: graft\r\n\r\n")
            }
            val msg = Http.renderRaw(200, "OK",
              Seq("Content-Type" -> "text/plain",
                "Transfer-Encoding" -> "chunked"),
              wire.toByteArray)
            val (resp, decoded, metaOpt) =
              Http.parseResponseDecoded(msg).get
            val meta = metaOpt.get // isChunked must have fired
            require(resp.isChunked)
            (id, meta.nChunks.toLong,
              (if (meta.wellFormed) 1L else 0L),
              meta.nExts.toLong, meta.nTrailers.toLong,
              decoded.length.toLong,
              Common.md5Hex(decoded))
          }
          .toDF("doc_id", "n_chunks", "well_formed", "n_exts",
            "n_trailers", "body_len", "body_md5")
          .orderBy("doc_id")
      }),

    Q("q218_indexability_gate",
      "page-level robots directive gate (T127, multimodal.Indexability " +
        "over the T118 scanner's new meta/rel capture + T117's " +
        "repeated-header walk): per doc, an HTTP response whose HTML " +
        "plants a robots meta (noindex,nofollow / all / absent by " +
        "doc), a graftbot-scoped noarchive meta on even docs, DECOY " +
        "metas inside a comment and a script rawtext block (must " +
        "never apply — one leak flips every verdict), a viewport " +
        "decoy (surfaced but ignored), rel=nofollow links incl. a " +
        "multi-token rel, and X-Robots-Tag headers exercising the " +
        "crawler-scope rule (otherbot-scoped noindex IGNORED, " +
        "graftbot-scoped notranslate counted, unscoped nosnippet on " +
        "every 5th doc). Verdict = most-restrictive union; all eight " +
        "output columns closed-form. Zero shuffle — the gate a corpus " +
        "build runs before admitting an extracted page",
      Some("""SELECT doc_id,
          CAST((CASE WHEN doc_id % 3 <> 2 THEN 1 ELSE 0 END) +
            (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) + 1 AS BIGINT)
            AS n_meta,
          CAST(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS BIGINT)
            AS indexable,
          CAST(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS BIGINT)
            AS followable,
          CAST(CASE WHEN doc_id % 2 <> 0 THEN 1 ELSE 0 END AS BIGINT)
            AS archivable,
          CAST(CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END AS BIGINT)
            AS snippetable,
          CAST((CASE WHEN doc_id % 3 <> 2 THEN 1 ELSE 0 END) +
            (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) +
            (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) + 1 AS BIGINT)
            AS n_sources,
          CAST(doc_id % 4 + 2 AS BIGINT) AS n_links,
          CAST((doc_id % 4) // 2 + 2 AS BIGINT) AS n_nofollow
        FROM documents ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{Html, Http, Indexability}
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val robotsMeta =
              if (id % 3 == 0)
                "<meta name=\"robots\" content=\"noindex, nofollow\">"
              else if (id % 3 == 1)
                "<meta name=robots content=all>"
              else ""
            val botMeta =
              if (id % 2 == 0)
                "<meta name='GraftBot' content='noarchive'>"
              else ""
            val links = (0 until (id % 4 + 1).toInt).map { j =>
              if (j % 2 == 0) s"<a href=/l$j rel=nofollow>l$j</a>"
              else s"<a href=/l$j>l$j</a>"
            }.mkString(" ")
            val html =
              s"""<html><head><title>d$id</title>
                 |$robotsMeta
                 |$botMeta
                 |<meta name="viewport" content="width=1">
                 |<!-- <meta name="robots" content="noindex"> -->
                 |<script>var s = '<meta name="robots" content="none">';</script>
                 |</head><body><p>doc $id</p>
                 |$links <a href="/x" rel="external nofollow">x</a>
                 |</body></html>""".stripMargin
            val headers = Seq(
              "Content-Type" -> "text/html; charset=utf-8",
              "X-Robots-Tag" -> "otherbot: noindex",
              "X-Robots-Tag" -> "graftbot: notranslate") ++
              (if (id % 5 == 0) Seq("X-Robots-Tag" -> "nosnippet")
              else Nil)
            val msg = Http.render(200, "OK", headers,
              html.getBytes("UTF-8"))
            val (_, body) = Http.parseResponseWithBody(msg).get
            val ex = Html.extractText(new String(body, "UTF-8"))
            val xrt = Http.headerAll(msg, "X-Robots-Tag")
            val v = Indexability.evaluate(ex.metas, xrt, "graftbot")
            def b(x: Boolean) = if (x) 1L else 0L
            (id, ex.metas.length.toLong, b(v.index), b(v.follow),
              b(v.archive), b(v.snippet), v.nSources.toLong,
              ex.nLinks.toLong, ex.nNofollow.toLong)
          }
          .toDF("doc_id", "n_meta", "indexable", "followable",
            "archivable", "snippetable", "n_sources", "n_links",
            "n_nofollow")
          .orderBy("doc_id")
      }),

    Q("q219_data_uri_decode",
      "base64 + data: URI decode (T128, multimodal.Base64s — the " +
        "layer that extracts what T120 rightly refuses to fetch): per " +
        "doc, seven data: URIs — the same formula payload encoded by " +
        "the JDK (the independent encoder) as standard, URL-safe-" +
        "unpadded, and MIME-wrapped (CRLF every 8 chars) base64 " +
        "(all three must decode to the SAME md5), a planted NON-" +
        "canonical final quantum (YR== — non-zero discarded bits: " +
        "decoded but flagged, the java.util.Base64 posture), a " +
        "percent-encoded text payload exercising the RFC 2397 default " +
        "mediatype, and two hard malformations (alphabet violation; " +
        "1-char final quantum) that must reject. All counts and MD5s " +
        "closed-form. Zero shuffle, per-row work",
      Some("""WITH p AS (SELECT doc_id, 5 + doc_id % 9 AS len
          FROM documents),
        s AS (SELECT p.doc_id,
            string_agg(chr(CAST(32 + (p.doc_id * 7 + k.k) % 95 AS INT)),
              '' ORDER BY k.k) AS payload
          FROM p, range(0, 14) k(k) WHERE k.k < p.len
          GROUP BY p.doc_id)
        SELECT s.doc_id,
          CAST(5 AS BIGINT) AS n_ok,
          CAST(2 AS BIGINT) AS n_rejected,
          CAST(1 AS BIGINT) AS n_noncanonical,
          CAST(3 AS BIGINT) AS n_agree,
          'text/plain;charset=us-ascii' AS mt_text,
          md5(s.payload) AS md5_payload,
          md5('hello doc ' || CAST(s.doc_id AS VARCHAR)) AS md5_text,
          CAST(5 + s.doc_id % 9 AS BIGINT) AS payload_len
        FROM s ORDER BY s.doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Base64s
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val len = (5 + id % 9).toInt
            val bytes = Array.tabulate[Byte](len)(k =>
              (32 + ((id * 7 + k) % 95)).toByte)
            val std = java.util.Base64.getEncoder.encodeToString(bytes)
            val urlSafe = java.util.Base64.getUrlEncoder.withoutPadding
              .encodeToString(bytes)
            val mime = std.grouped(8).mkString("\r\n")
            val uris = Seq(
              s"data:image/png;base64,$std",
              s"data:application/octet-stream;base64,$urlSafe",
              s"data:text/x-raw;base64,$mime",
              "data:;base64,YR==", // non-canonical fill bits
              s"data:,hello%20doc%20$id",
              "data:;base64,ab!cd", // alphabet violation
              "data:;base64,abcde") // 1-char final quantum
            val parsed = uris.map(Base64s.parseDataUri)
            val b64Md5s = parsed.take(3).flatten.map(p => Common.md5Hex(p.bytes))
            (id,
              parsed.count(_.isDefined).toLong,
              parsed.count(_.isEmpty).toLong,
              parsed.flatten.count(p => p.base64 && !p.canonical).toLong,
              b64Md5s.count(_ == b64Md5s.head).toLong,
              parsed(4).map(_.mediaType).getOrElse("-"),
              b64Md5s.headOption.getOrElse("-"),
              parsed(4).map(p => Common.md5Hex(p.bytes)).getOrElse("-"),
              parsed.headOption.flatten.map(_.bytes.length.toLong)
                .getOrElse(-1L))
          }
          .toDF("doc_id", "n_ok", "n_rejected", "n_noncanonical",
            "n_agree", "mt_text", "md5_payload", "md5_text",
            "payload_len")
          .orderBy("doc_id")
      }),

    Q("q220_host_link_graph",
      "host-level link graph construction (T129 — the web-graph shape " +
        "the crawl stack ultimately feeds): per doc, HTML whose links " +
        "exercise every RFC 3986 reference form — absolute, scheme-" +
        "relative, absolute-path, relative-with-dot-segments, query-" +
        "only, fragment-only, entity-encoded — plus a mailto: and a " +
        "data: link the canonicalizer must DROP; the T118 scanner " +
        "extracts hrefs, Urls.resolve (the §5.4-conformance-tested " +
        "resolver) resolves them against the page base, T120 " +
        "canonicalizes, and the (src_host, dst_host) edge rollup " +
        "aggregates link and distinct-document counts. The oracle " +
        "rebuilds the whole graph closed-form — one mis-resolved " +
        "reference moves an edge and hash-fails. ONE shuffle keyed by " +
        "edge: at 100 TB the host graph is edges-not-pages sized, " +
        "partial-aggregated map-side",
      Some("""WITH o AS (SELECT * FROM (VALUES (1, 1), (2, 1), (0, 5))
          t(off, w)),
        l AS (SELECT doc_id, doc_id % 97 AS g,
            (doc_id % 97 + o.off) % 97 AS dg, o.w
          FROM documents, o)
        SELECT 'ex' || CAST(g AS VARCHAR) || '.test' AS src_host,
          'ex' || CAST(dg AS VARCHAR) || '.test' AS dst_host,
          CAST(SUM(w) AS BIGINT) AS n_links,
          CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM l GROUP BY g, dg ORDER BY src_host, dst_host"""),
      (s, d) =>
        hostLinks(s, table(s, d, "documents"))
          .groupBy("src_host", "dst_host")
          .agg(count(lit(1)).as("n_links"),
            countDistinct(col("doc_id")).as("n_docs"))
          .orderBy("src_host", "dst_host")),

    Q("q221_registrable_domain",
      "public-suffix registrable domain (T130, graft.text.PublicSuffix " +
        "— the key production frontiers ACTUALLY group politeness and " +
        "quotas by: eTLD+1, not host): per doc, nine hosts exercising " +
        "the COMPLETE publicsuffix.org rule grammar — multi-label " +
        "suffixes (co.uk), wildcard rules (*.ck), the exception rule " +
        "(!www.ck beats the wildcard), private registries (github.io), " +
        "case folding + trailing dots, a host that IS a public suffix, " +
        "an IP literal, and a single-label host (the last three must " +
        "reject). Every registrable domain is closed-form in doc_id. " +
        "Zero shuffle; at 100 TB this is the map the frontier's " +
        "grouping key passes through before the T125 rollup",
      Some("""SELECT doc_id,
          'ex' || CAST(doc_id % 97 AS VARCHAR) || '.com' ||
            ',site' || CAST(doc_id % 20 AS VARCHAR) || '.co.uk' ||
            ',ex' || CAST(doc_id % 97 AS VARCHAR) || '.co.uk' ||
            ',shop.stuff' || CAST(doc_id % 10 AS VARCHAR) || '.ck' ||
            ',www.ck' ||
            ',user' || CAST(doc_id % 30 AS VARCHAR) || '.github.io'
            AS domains,
          CAST(6 AS BIGINT) AS n_ok,
          CAST(3 AS BIGINT) AS n_rejected
        FROM documents ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.text.PublicSuffix
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val g = id % 97
            val hosts = Seq(
              s"a.b${id % 50}.ex$g.com",
              s"news.site${id % 20}.co.uk",
              s"WWW.Ex$g.CO.UK.", // case + trailing dot
              s"shop.stuff${id % 10}.ck", // wildcard *.ck
              "www.ck", // exception !www.ck beats *.ck
              s"user${id % 30}.github.io", // private registry
              "co.uk", // IS a public suffix -> None
              s"192.168.${id % 256}.1", // IP literal -> None
              "localhost") // single label -> None
            val rds = hosts.map(PublicSuffix.registrableDomain)
            (id, rds.flatten.mkString(","),
              rds.count(_.isDefined).toLong,
              rds.count(_.isEmpty).toLong)
          }
          .toDF("doc_id", "domains", "n_ok", "n_rejected")
          .orderBy("doc_id")
      }),

    Q("q222_homograph_audit",
      "Unicode script-mix + homograph audit (T131, graft.text.Scripts " +
        "— the UTS #39 gate over frontier hosts): per doc, a pure-" +
        "Latin host plus, by doc residue, a Cyrillic-а lookalike " +
        "(U+0430 — must flag confusable risk AND spoof the Latin " +
        "host via the confusable skeleton), a Greek-ο mix (risk but " +
        "NOT a spoof of this target), and a Han+Hiragana+Latin-TLD " +
        "host (mixed but an ALLOWED combination — no risk). Script " +
        "classification is the JDK's own UCD binding, COMMON/" +
        "INHERITED excluded. Every count closed-form; one mis-" +
        "classified code point flips a column. Zero shuffle — at " +
        "100 TB this runs beside T120 in the same narrow map",
      Some("""SELECT doc_id,
          CAST(1 + (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) +
            (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) +
            (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_hosts,
          CAST((CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) +
            (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) +
            (CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_mixed,
          CAST((CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) +
            (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_risk,
          CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
            AS n_spoof,
          'LATIN' AS dom0
        FROM documents ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.text.Scripts
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val g = id % 97
            val latin = s"example$g.com"
            val hosts = Seq(latin) ++
              (if (id % 2 == 0) Seq(s"exаmple$g.com") else Nil) ++
              (if (id % 3 == 0) Seq(s"demο$g.net") else Nil) ++
              (if (id % 5 == 0) Seq(s"例え$g.jp") else Nil)
            val mixes = hosts.map(Scripts.scriptMix)
            (id, hosts.length.toLong,
              mixes.count(_.mixed).toLong,
              mixes.count(_.confusableRisk).toLong,
              hosts.tail.count(Scripts.spoofs(_, latin)).toLong,
              mixes.head.dominant)
          }
          .toDF("doc_id", "n_hosts", "n_mixed", "n_risk", "n_spoof",
            "dom0")
          .orderBy("doc_id")
      }),

    Q("q223_content_extract",
      "block-level main-content extraction (T132, multimodal." +
        "ContentExtract over the T118 scanner's new per-block anchor " +
        "accounting — the jusText/boilerpipe class, the structural " +
        "complement of T113's corpus-frequency stripping): per doc, a " +
        "page with two nav bars and a footer (link density 1 — BAD), " +
        "a copyright line stranded BETWEEN navs (undecided, no good " +
        "neighbor — dies), 2-4 prose paragraphs (long + stopword-" +
        "dense — GOOD), and a short date line hugging the prose " +
        "(undecided, adjacent good — PROMOTED, the jusText neighbor " +
        "adoption). The oracle knows every label count and the md5 of " +
        "the assembled content text — one block misclassified changes " +
        "the md5. Zero shuffle, per-row work",
      Some("""WITH p AS (SELECT doc_id, doc_id % 3 + 2 AS k
          FROM documents),
        c AS (SELECT p.doc_id, p.k,
            string_agg(
              'the quick brown fox jumps over the lazy dog near station w'
                || CAST(p.doc_id AS VARCHAR) || 'p' ||
                CAST(j.j AS VARCHAR) ||
                ' and then it rests for a while',
              chr(10) ORDER BY j.j) AS paras
          FROM p, range(0, 5) j(j) WHERE j.j < p.k
          GROUP BY p.doc_id, p.k)
        SELECT doc_id,
          CAST(k + 5 AS BIGINT) AS n_blocks,
          CAST(k AS BIGINT) AS n_good,
          CAST(1 AS BIGINT) AS n_promoted,
          CAST(4 AS BIGINT) AS n_bad,
          md5(paras || chr(10) || 'Updated on day ' ||
            CAST(doc_id % 28 AS VARCHAR)) AS md5_content
        FROM c ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{ContentExtract, Html}
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val g = id % 97
            val k = (id % 3 + 2).toInt
            val paras = (0 until k).map(j =>
              "the quick brown fox jumps over the lazy dog near " +
                s"station w${id}p$j and then it rests for a while")
            val html =
              s"""<html><body>
                 |<div><a href="/h">Home</a> <a href="/ab">About</a> <a href="/c">Contact us</a></div>
                 |<p>Copyright ex$g portal pages</p>
                 |<div><a href="/l">Login</a> <a href="/r">Register</a></div>
                 |${paras.map(p => s"<p>$p</p>").mkString("\n")}
                 |<p>Updated on day ${id % 28}</p>
                 |<div><a href="/s">Sitemap</a> <a href="/pp">Privacy policy</a></div>
                 |</body></html>""".stripMargin
            val blocks = Html.extractText(html).blocks
            val classified = ContentExtract.classify(blocks)
            val content = ContentExtract.contentText(blocks)
            (id, blocks.length.toLong,
              classified.count(_.cls == "good").toLong,
              classified.count(_.cls == "promoted").toLong,
              classified.count(_.cls == "bad").toLong,
              Common.md5Hex(content.getBytes("UTF-8")))
          }
          .toDF("doc_id", "n_blocks", "n_good", "n_promoted", "n_bad",
            "md5_content")
          .orderBy("doc_id")
      }),

    Q("q224_recrawl_schedule",
      "recrawl scheduling from sitemap freshness metadata (T133 — the " +
        "feedback loop that closes the frontier: T122's lastmod/" +
        "changefreq decide WHEN a URL earns another fetch): per doc, " +
        "a real sitemap (XML parsed by the T122 scanner, lastmod " +
        "validated to epoch days, changefreq vocabulary-checked) " +
        "yields per-URL age = ref_day − lastmod_day and interval from " +
        "changefreq (always/hourly→1, daily→1, weekly→7, monthly→30, " +
        "yearly→365, never/invalid→∞); due ⟺ age ≥ interval, " +
        "priority = age·1000 DIV interval — pure integer math, engine-" +
        "exact, no clocks (ref day is a PARAMETER, pinned to epoch " +
        "day 20000 here: determinism discipline, never now()). " +
        "Oracle rebuilds every verdict closed-form. Zero shuffle; at " +
        "100 TB this is a narrow map over the sitemap store feeding " +
        "the T125 politeness rollup",
      Some("""WITH u AS (SELECT doc_id, j.j,
            (DATE '2024-02-01' - DATE '1970-01-01') + (doc_id + j.j) % 27
              AS lastmod_day,
            CASE WHEN j.j % 4 = 0 THEN 1 WHEN j.j % 4 = 1 THEN -1
              WHEN j.j % 4 = 2 THEN 30 ELSE 7 END AS interval_days
          FROM documents, range(0, 3) j(j) WHERE j.j < doc_id % 3 + 1),
        v AS (SELECT doc_id, j,
            20000 - lastmod_day AS age,
            interval_days
          FROM u)
        SELECT doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_urls,
          CAST(SUM(CASE WHEN interval_days > 0
              AND age >= interval_days THEN 1 ELSE 0 END) AS BIGINT)
            AS n_due,
          CAST(SUM(CASE WHEN interval_days < 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_never,
          CAST(MAX(CASE WHEN interval_days > 0
              THEN age * 1000 // interval_days ELSE -1 END) AS BIGINT)
            AS max_priority
        FROM v GROUP BY doc_id ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.text.Sitemap
        val refDay = 20000L // parameter, never a clock
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val n = (id % 3 + 1).toInt
            val freqs = Seq("daily", "never", "monthly", "weekly")
            val urls = (0 until n).map { j =>
              val day = 19754 + (id + j) % 27 // 2024-02-01 + k
              val date = java.time.LocalDate.ofEpochDay(day)
              s"""  <url><loc>http://ex${id % 97}.test/r$j</loc>
                 |    <lastmod>$date</lastmod>
                 |    <changefreq>${freqs(j % 4)}</changefreq></url>"""
                .stripMargin
            }.mkString("\n")
            val parsed = Sitemap.parse(
              s"<?xml version=\"1.0\"?>\n<urlset>\n$urls\n</urlset>")
            val verdicts = parsed.entries.map { e =>
              val interval = e.changefreq match {
                case Some("always") | Some("hourly") | Some("daily") =>
                  1L
                case Some("weekly") => 7L
                case Some("monthly") => 30L
                case Some("yearly") => 365L
                case _ => -1L // never / missing / invalid: no recrawl
              }
              val age = e.lastmodEpochDay.map(refDay - _).getOrElse(-1L)
              val due = interval > 0 && age >= interval
              val priority =
                if (interval > 0) age * 1000L / interval else -1L
              (due, interval < 0, priority)
            }
            (id, verdicts.length.toLong,
              verdicts.count(_._1).toLong,
              verdicts.count(_._2).toLong,
              verdicts.map(_._3).maxOption.getOrElse(-1L))
          }
          .toDF("doc_id", "n_urls", "n_due", "n_never", "max_priority")
          .orderBy("doc_id")
      }),

    Q("q225_source_overlap_matrix",
      "source-pair shingle-overlap matrix (T134 — cross-source " +
        "duplication / corpus-drift audit, the SOURCE-grain companion " +
        "of the doc-grain dedup tiers): EXACT |H(s1)∩H(s2)|, " +
        "|H(s1)∪H(s2)| (inclusion-exclusion on per-source distinct " +
        "counts) and Jaccard in integer ppm over distinct trigram-" +
        "shingle hash sets per source — the table that tells a " +
        "mixture designer which sources are secretly the same crawl. " +
        "Scale shape: text reduces to DISTINCT (source, hash) pairs " +
        "map-side; the h-keyed self-join's per-hash candidate mass is " +
        "bounded by SOURCES² (not docs²) by construction; the " +
        "localCheckpoint'd distinct frame feeds the counts AND both " +
        "join sides (one materialization, the q196 discipline). " +
        "Output is sources², corpus-size-free. Zero-intersection " +
        "pairs are absent on both engines (inner-join semantics)",
      Some(s"""WITH w AS (SELECT source, $sqlWords AS ws FROM documents),
        sh AS (SELECT source, unnest(list_distinct(list_transform(
            range(1, len(ws)-1),
            i -> array_to_string(ws[i:i+2], ' ')))) AS s
          FROM w WHERE len(ws) >= 3),
        ex AS (SELECT DISTINCT source, ${sqlHash32("s")} AS h FROM sh),
        c AS (SELECT source, COUNT(*) AS n FROM ex GROUP BY source),
        i AS (SELECT a.source AS s1, b.source AS s2,
            CAST(COUNT(*) AS BIGINT) AS inter
          FROM ex a JOIN ex b ON a.h = b.h AND a.source < b.source
          GROUP BY a.source, b.source)
        SELECT s1, s2, inter,
          CAST(c1.n + c2.n - inter AS BIGINT) AS uni,
          CAST(1000000 * inter // (c1.n + c2.n - inter) AS BIGINT)
            AS jaccard_ppm
        FROM i JOIN c c1 ON c1.source = i.s1
          JOIN c c2 ON c2.source = i.s2
        ORDER BY s1, s2"""),
      (s, d) => {
        // distinct trigram-shingle hashes per source, exact
        // intersection/union/Jaccard-ppm per source pair
        val ex = table(s, d, "documents")
          .select(col("source"), split(col("text"), "\\s+").as("ws"))
          .filter(size(col("ws")) >= 3)
          .select(col("source"), explode(expr(
            "array_distinct(transform(sequence(1, size(ws)-2), " +
              "i -> concat_ws(' ', slice(ws, i, 3))))")).as("sh"))
          .select(col("source"), graft.ops.Hashing.hash32(col("sh")).as("h"))
          .distinct()
          .localCheckpoint() // counts + both self-join sides
        val counts = ex.groupBy("source").agg(count(lit(1)).as("n"))
        ex.as("a")
          .join(ex.as("b"), col("a.h") === col("b.h") &&
            col("a.source") < col("b.source"))
          .select(col("a.source").as("s1"), col("b.source").as("s2"))
          .groupBy("s1", "s2")
          .agg(count(lit(1)).as("inter"))
          .join(counts.select(col("source").as("s1"), col("n").as("n1")),
            "s1")
          .join(counts.select(col("source").as("s2"), col("n").as("n2")),
            "s2")
          .select(col("s1"), col("s2"), col("inter"),
            (col("n1") + col("n2") - col("inter")).as("uni"),
            expr("(1000000 * inter) DIV (n1 + n2 - inter)")
              .as("jaccard_ppm"))
          .orderBy("s1", "s2")
      }),

    Q("q226_archive_to_content",
      "the SEVEN-layer crawl capstone (T135 — every archive-ingest " +
        "story composed in one task; round 12 plants the Content-" +
        "Encoding story, VERDICT-r11 item 1): per doc, content-" +
        "bearing HTML (q223's navs + prose + date line) is gzip-" +
        "compressed as the response BODY (Content-Encoding: gzip, " +
        "RFC 9110 §8.4), chunk-framed into a real HTTP/1.1 response " +
        "(Transfer-Encoding: chunked, 4 hex-sized chunks — the two " +
        "encodings STACK exactly as Common Crawl captures them), " +
        "WARC-wrapped (ISO 28500), gzip'd again at the ARCHIVE layer " +
        "(RFC 1952 with FNAME), then walked ALL the way back — T104 " +
        "member split → T115 WARC parse → T117+T126 header walk " +
        "with chunked de-framing → T150 content decoding → T119 " +
        "charset decode by the extracted label → T118 HTML " +
        "extraction → T132 content classification — and only the " +
        "MAIN CONTENT's md5/length leave the task. One wrong byte " +
        "at any layer breaks the final md5. This is the complete " +
        "Common-Crawl-archive → training-text pipeline as a single " +
        "narrow map; nothing shuffles but the per-doc verdict row",
      Some("""WITH p AS (SELECT doc_id, doc_id % 3 + 2 AS k
          FROM documents),
        c AS (SELECT p.doc_id, p.k,
            string_agg(
              'the quick brown fox jumps over the lazy dog near station w'
                || CAST(p.doc_id AS VARCHAR) || 'p' ||
                CAST(j.j AS VARCHAR) ||
                ' and then it rests for a while',
              chr(10) ORDER BY j.j) AS paras
          FROM p, range(0, 5) j(j) WHERE j.j < p.k
          GROUP BY p.doc_id, p.k),
        t AS (SELECT doc_id, k,
            paras || chr(10) || 'Updated on day ' ||
              CAST(doc_id % 28 AS VARCHAR) AS content
          FROM c)
        SELECT doc_id,
          CAST(4 AS BIGINT) AS n_chunks,
          'response' AS warc_type,
          'text/html' AS media_type,
          'utf-8' AS enc,
          CAST(k + 5 AS BIGINT) AS n_blocks,
          CAST(k + 1 AS BIGINT) AS n_content,
          CAST(length(content) AS BIGINT) AS content_len,
          md5(content) AS md5_content
        FROM t ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{Charsets, Compressed, ContentExtract,
          Html, Http, Warc}
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val g = id % 97
            val k = (id % 3 + 2).toInt
            val paras = (0 until k).map(j =>
              "the quick brown fox jumps over the lazy dog near " +
                s"station w${id}p$j and then it rests for a while")
            val html =
              s"""<html><body>
                 |<div><a href="/h">Home</a> <a href="/ab">About</a> <a href="/c">Contact us</a></div>
                 |<p>Copyright ex$g portal pages</p>
                 |<div><a href="/l">Login</a> <a href="/r">Register</a></div>
                 |${paras.map(p => s"<p>$p</p>").mkString("\n")}
                 |<p>Updated on day ${id % 28}</p>
                 |<div><a href="/s">Sitemap</a> <a href="/pp">Privacy policy</a></div>
                 |</body></html>""".stripMargin
            // the response BODY is gzip-compressed (Content-Encoding
            // layer — round 12), then the COMPRESSED bytes chunk-frame
            val gzBody = {
              val bos = new java.io.ByteArrayOutputStream()
              val g = new java.util.zip.GZIPOutputStream(bos)
              g.write(html.getBytes("UTF-8")); g.close()
              bos.toByteArray
            }
            // chunk-frame into 4 pieces
            val n = 4
            val base = gzBody.length / n
            val rem = gzBody.length % n
            val wire = new java.io.ByteArrayOutputStream()
            def w(str: String): Unit =
              wire.write(str.getBytes("US-ASCII"))
            var off = 0
            (0 until n).foreach { i =>
              val sz = base + (if (i < rem) 1 else 0)
              w(sz.toHexString + "\r\n")
              wire.write(gzBody, off, sz)
              w("\r\n")
              off += sz
            }
            w("0\r\n\r\n")
            val http = Http.renderRaw(200, "OK",
              Seq("Content-Type" -> "text/html; charset=utf-8",
                "Content-Encoding" -> "gzip",
                "Transfer-Encoding" -> "chunked"),
              wire.toByteArray)
            val warc = Warc.render(Seq(
              "WARC-Type" -> "response",
              "WARC-Record-ID" -> s"<urn:uuid:q226-$id>",
              "WARC-Date" -> "2026-01-01T00:00:00Z"), http)
            val gz = Compressed.gzipMember(warc, Some(s"d$id.warc"))
            // walk all seven layers back
            val (rec, warcBody) = Compressed.memberPayloads(gz).get
              .flatMap { case (_, p) => Warc.parseSingleWithBody(p) }
              .head
            val (resp, payload, meta, codingMeta) =
              Http.parseResponseFullyDecoded(warcBody).get
            require(codingMeta.decoded, "content coding must decode")
            val dec = Charsets.decode(payload, resp.charset)
            val blocks = Html.extractText(dec.text).blocks
            val content = ContentExtract.contentText(blocks)
            (id,
              meta.map(_.nChunks.toLong).getOrElse(-1L),
              rec.warcType,
              resp.mediaType.getOrElse("-"),
              dec.used,
              blocks.length.toLong,
              ContentExtract.classify(blocks)
                .count(_.cls != "bad").toLong,
              content.length.toLong,
              Common.md5Hex(content.getBytes("UTF-8")))
          }
          .toDF("doc_id", "n_chunks", "warc_type", "media_type", "enc",
            "n_blocks", "n_content", "content_len", "md5_content")
          .orderBy("doc_id")
      }),

    Q("q227_chat_loss_mask",
      "chat-template rendering + loss-mask spans (T136, graft.text." +
        "ChatTemplate — the SFT half of the pipeline): per doc, a " +
        "system turn + 1-3 (user, assistant) exchanges render through " +
        "the documented ChatML-class template; assistant content " +
        "surfaces as half-open token spans (the loss mask), and every " +
        "4th doc truncates to 25 tokens — spans wholly past the cut " +
        "DROP, the straddling span CLIPS and is counted (the audit " +
        "that says the context length is eating answers). All token " +
        "arithmetic is exact integers from fixed turn shapes; the " +
        "oracle rebuilds turn counts, token counts, kept/trainable " +
        "masses, and the span list closed-form. Zero shuffle — the " +
        "same narrow-map shape the packing tier (q98) consumes",
      Some("""WITH p AS (SELECT doc_id, doc_id % 3 + 1 AS k,
            doc_id % 4 = 0 AS tr FROM documents),
        sp AS (SELECT p.doc_id,
            string_agg(CAST(19 + 20 * j.j AS VARCHAR) || ':' ||
              CAST(27 + 20 * j.j AS VARCHAR), ',' ORDER BY j.j) AS spans
          FROM p, range(0, 3) j(j) WHERE j.j < p.k AND NOT p.tr
          GROUP BY p.doc_id)
        SELECT p.doc_id,
          CAST(2 * k + 1 AS BIGINT) AS n_turns,
          CAST(8 + 20 * k AS BIGINT) AS n_tokens,
          CAST(CASE WHEN tr THEN least(8 + 20 * k, 25)
            ELSE 8 + 20 * k END AS BIGINT) AS n_kept,
          CAST(CASE WHEN tr THEN 6 ELSE 8 * k END AS BIGINT)
            AS n_trainable,
          CAST(CASE WHEN tr THEN 1 ELSE k END AS BIGINT) AS n_spans,
          CAST(CASE WHEN tr THEN 1 ELSE 0 END AS BIGINT) AS n_clipped,
          CASE WHEN tr THEN '19:25' ELSE sp.spans END AS spans
        FROM p LEFT JOIN sp ON sp.doc_id = p.doc_id
        ORDER BY p.doc_id"""),
      (s, d) =>
        chatVerdicts(s, table(s, d, "documents")).orderBy("doc_id")),

    Q("q228_pack_boundaries",
      "sequence packing with document-boundary masks (T137 — the " +
        "layout trainers actually consume, composing T136's rendered " +
        "conversations into 256-token packs through the T56 " +
        "RunningTotal operator): each conversation's kept-token count " +
        "enters a GLOBAL exclusive running sum over snapshot order " +
        "(auto-routed onto the two-phase parallel-scan operator — " +
        "never a single-task window), pack_id = cum_before DIV 256, " +
        "offset-in-pack = cum_before − pack_id·256; docs never split; " +
        "per pack: doc count, token/trainable masses, fill ppm, and " +
        "the md5 of the ascending boundary-offset list — the " +
        "cross-document attention-mask boundaries. Oracle rebuilds " +
        "the identical packing from the closed-form token counts. " +
        "Shuffle = one range exchange (the prefix-sum operator) + " +
        "packs-sized rollup",
      Some("""WITH c AS (SELECT doc_id,
            CASE WHEN doc_id % 4 = 0
              THEN least(8 + 20 * (doc_id % 3 + 1), 25)
              ELSE 8 + 20 * (doc_id % 3 + 1) END AS n_kept,
            CASE WHEN doc_id % 4 = 0 THEN 6
              ELSE 8 * (doc_id % 3 + 1) END AS n_train
          FROM documents),
        r AS (SELECT doc_id, n_kept, n_train,
            COALESCE(SUM(n_kept) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS cb
          FROM c),
        o AS (SELECT CAST(cb // 256 AS BIGINT) AS pack_id,
            cb - (cb // 256) * 256 AS off, n_kept, n_train, cb
          FROM r)
        SELECT pack_id,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_kept) AS BIGINT) AS token_mass,
          CAST(SUM(n_train) AS BIGINT) AS trainable_mass,
          CAST(1000000 * SUM(n_kept) // 256 AS BIGINT) AS fill_ppm,
          md5(string_agg(CAST(off AS VARCHAR), ',' ORDER BY cb))
            AS boundaries_md5
        FROM o GROUP BY pack_id ORDER BY pack_id"""),
      (s, d) => {
        // INCLUSIVE running sum (rows unboundedPreceding..currentRow):
        // the exact shape TopK/RunningTotal's strategy auto-routes
        // onto the two-phase parallel scan — the exclusive prefix is
        // inclusive − self (an exclusive frame would fall back to the
        // single-task WindowExec)
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions
            .Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        chatVerdicts(s, table(s, d, "documents"))
          .select(col("doc_id"), col("n_kept"), col("n_trainable"))
          .withColumn("cum", sum(col("n_kept")).over(w))
          .withColumn("cb", col("cum") - col("n_kept"))
          .withColumn("pack_id", expr("cb DIV 256"))
          .withColumn("off", col("cb") - col("pack_id") * 256)
          .groupBy("pack_id")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_kept")).as("token_mass"),
            sum(col("n_trainable")).as("trainable_mass"),
            md5(concat_ws(",", expr(
              "transform(array_sort(collect_list(off)), " +
                "x -> CAST(x AS STRING))")))
              .as("boundaries_md5"))
          .select(col("pack_id"), col("n_docs"), col("token_mass"),
            col("trainable_mass"),
            expr("(1000000 * token_mass) DIV 256").as("fill_ppm"),
            col("boundaries_md5"))
          .orderBy("pack_id")
      }),

    Q("q229_stream_frontier",
      "STREAMING crawl frontier (T138 — the q216 pipeline as a " +
        "standing stream topology): URLs arrive as a stream (two " +
        "messy variants per target — uppercase/:80/#frag and " +
        "trailing-dot/dot-segment — plus the /private/ probe), each " +
        "micro-batch canonicalizes (T120) and robots-gates (T121), " +
        "then the frontier's SEEN-set dedup runs as " +
        "dropDuplicatesWithinWatermark on the canonical key — " +
        "BOUNDED state (evicts past the watermark), the 100 TB " +
        "frontier answer where a plain distinct grows with the crawl. " +
        "Both variants of every target collapse to ONE fetch; the " +
        "drained stream's per-host politeness rollup hash-matches " +
        "q216's batch oracle exactly — the streaming and batch " +
        "frontiers are provably the same frontier",
      Some("""WITH u AS (
          SELECT doc_id % 97 AS g,
            'http://ex' || CAST(doc_id % 97 AS VARCHAR) || '.test/p' ||
              CAST(doc_id AS VARCHAR) || '/' || CAST(j.j AS VARCHAR) ||
              '?x=1' AS url
          FROM documents, range(0, 3) j(j) WHERE j.j < doc_id % 3 + 1),
        h AS (SELECT g, COUNT(*) AS n_urls,
            md5(string_agg(url, ',' ORDER BY url)) AS order_md5
          FROM u GROUP BY g)
        SELECT 'ex' || CAST(g AS VARCHAR) || '.test' AS host,
          CAST(n_urls AS BIGINT) AS n_urls,
          CAST(1 + g % 5 AS BIGINT) AS delay_s,
          CAST((n_urls - 1) * (1 + g % 5) AS BIGINT) AS makespan_s,
          order_md5
        FROM h ORDER BY host"""),
      (s, d) => {
        import s.implicits._
        import graft.text.Urls
        val scratch = Common.scratchDir("stream_frontier", d)
        // the per-HOST robots dimension is STATIC state the frontier
        // maintains next to the stream (round 11: parse once per host;
        // the stream-static broadcast join is the production verdict
        // path — round 10 re-parsed robots inside the per-URL flatMap).
        // localCheckpoint: a stream-static join re-executes the static
        // side's PLAN per micro-batch — without pinning, "parse once
        // per host" would really be once per host per batch plus a
        // repeated corpus scan (review-r11 finding)
        val rules = hostRobots(s, table(s, d, "documents"))
          .localCheckpoint()
        val pages = Common.replayStream(s, d, "documents")
          .select(col("doc_id")).as[Long]
          .flatMap { id =>
            val g = id % 97
            val raws = (0 until (id % 3 + 1).toInt).flatMap(j => Seq(
              s"HTTP://EX$g.TEST:80/p$id/$j?x=1#frag",
              s"http://ex$g.test./p$id/./$j?x=1")) :+ // same canonical
              s"http://ex$g.test/private/$id" // the gate must drop this
            raws.flatMap { raw =>
              Urls.canonicalize(raw).flatMap { cu =>
                Urls.parse(cu).map { parts =>
                  (parts.host, cu,
                    parts.path + parts.query.map("?" + _).getOrElse(""))
                }
              }
            }
          }
          .toDF("host", "url", "path_q")
        val urls = robotsGate(s, pages, rules)
          .withColumn("ts", timestamp_seconds(lit(1700000000L)))
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("url")
        Common.drain(s, scratch) {
          urls.writeStream.format("parquet").option("path", s"$scratch/data")
        }
        s.read.parquet(s"$scratch/data")
          .groupBy("host", "delay_s")
          .agg(count(lit(1)).as("n_urls"),
            md5(concat_ws(",", sort_array(collect_list(col("url")))))
              .as("order_md5"))
          .select(col("host"), col("n_urls"), col("delay_s"),
            ((col("n_urls") - 1) * col("delay_s")).as("makespan_s"),
            col("order_md5"))
          .orderBy("host")
      }),

    Q("q230_host_pagerank",
      "crawl prioritization: weighted integer PageRank over the q220 " +
        "host link graph (T139 — VERDICT-r10 item 2: the frontier " +
        "could schedule (q216) and recrawl (q224) but not RANK hosts; " +
        "OPIC/PageRank priority is how real frontiers spend fetch " +
        "budget). The q220 extract→resolve→canonicalize pipeline " +
        "builds (src_host, dst_host, weight) edges — weight = link " +
        "count, the host graph is edges-not-pages sized — then 5 " +
        "unrolled iterations of q143's pure-integer PageRank (ranks " +
        "scaled 1e9, damping 85/100, per-edge contribution pr·w DIV " +
        "out_weight) yield the per-host crawl priority, bit-identical " +
        "cross-engine because every step is integer division and " +
        "associative sums. The oracle unrolls the same 5 iterations " +
        "in SQL from the closed-form edge weights. Scale shape: the " +
        "extraction is the narrow corpus map the frontier already " +
        "pays; everything after is host-graph-sized (hosts + hosts² " +
        "frames, broadcast by AQE), so ranking costs nothing extra " +
        "at 100 TB",
      Some {
        val prIters = (1 to 5).map { k =>
          s"""pr$k AS (SELECT n0.h,
            CAST(150000000 + (COALESCE(s.c, 0) * 85) // 100 AS BIGINT)
              AS pr
          FROM n0 LEFT JOIN (SELECT e.dst AS h,
              SUM((p.pr * e.w) // ow.ow) AS c
            FROM e JOIN pr${k - 1} p ON e.src = p.h
            JOIN ow ON e.src = ow.src GROUP BY e.dst) s USING (h))"""
        }.mkString(",\n        ")
        s"""WITH o AS (SELECT * FROM (VALUES (1, 1), (2, 1), (0, 5))
            t(off, w)),
          l AS (SELECT doc_id % 97 AS g,
              (doc_id % 97 + o.off) % 97 AS dg, o.w
            FROM documents, o),
          e AS (SELECT g AS src, dg AS dst, CAST(SUM(w) AS BIGINT) AS w
            FROM l GROUP BY g, dg),
          ow AS (SELECT src, SUM(w) AS ow FROM e GROUP BY src),
          n0 AS (SELECT DISTINCT doc_id % 97 AS h FROM documents),
          pr0 AS (SELECT h, CAST(1000000000 AS BIGINT) AS pr FROM n0),
          $prIters
        SELECT 'ex' || CAST(h AS VARCHAR) || '.test' AS host, pr
        FROM pr5 ORDER BY host"""
      },
      (s, d) =>
        hostRank(s, table(s, d, "documents")).orderBy("host")),

    Q("q231_revisit_gate",
      "HTTP revisit validators — the RFC 9111 conditional-GET decision " +
        "(T140, multimodal.Revisit; VERDICT-r10 item 4: q224 schedules " +
        "recrawl from sitemap declarations only — this is the origin's " +
        "own cache contract): per doc, a REAL rendered HTTP response " +
        "(the T117 header walk extracts everything — the production " +
        "path) carrying one of six caching profiles — max-age with " +
        "ETag, no-store, no-cache with Last-Modified, Expires−Date " +
        "with no validators, the §4.2.2 10% heuristic from " +
        "Last-Modified, and s-maxage overriding max-age — crossed " +
        "with a doc-derived entry age; the gate must emit " +
        "skip / revalidate(If-None-Match | If-Modified-Since) / fetch " +
        "with the computed freshness lifetime. HTTP-dates parsed by " +
        "the 3-format RFC 9110 §5.6.7 parser (JDK-formatter-refereed " +
        "in RevisitSpec); every verdict closed-form in doc_id. Pure " +
        "per-row header logic, zero shuffle — at 100 TB this runs " +
        "beside the politeness gate in the same narrow map over the " +
        "crawl store, and every 'skip' is a fetch the cluster never " +
        "pays",
      Some("""WITH v AS (SELECT doc_id, doc_id % 6 AS g,
            (doc_id % 7) * 400 AS age FROM documents)
        SELECT doc_id,
          CASE g
            WHEN 0 THEN CASE WHEN age < 1000 THEN 'skip'
              ELSE 'revalidate' END
            WHEN 1 THEN 'fetch'
            WHEN 2 THEN 'revalidate'
            WHEN 3 THEN CASE WHEN age < 800 THEN 'skip' ELSE 'fetch' END
            WHEN 4 THEN CASE WHEN age < 2000 THEN 'skip'
              ELSE 'revalidate' END
            ELSE CASE WHEN age < 1200 THEN 'skip'
              ELSE 'revalidate' END
          END AS action,
          CASE g
            WHEN 0 THEN CASE WHEN age < 1000 THEN 'none'
              ELSE 'if-none-match' END
            WHEN 1 THEN 'none'
            WHEN 2 THEN 'if-modified-since'
            WHEN 3 THEN 'none'
            WHEN 4 THEN CASE WHEN age < 2000 THEN 'none'
              ELSE 'if-none-match' END
            ELSE CASE WHEN age < 1200 THEN 'none'
              ELSE 'if-modified-since' END
          END AS validator,
          CAST(CASE g WHEN 0 THEN 1000 WHEN 1 THEN 0 WHEN 2 THEN 0
            WHEN 3 THEN 800 WHEN 4 THEN 2000 ELSE 1200 END AS BIGINT)
            AS lifetime_s,
          CAST(CASE WHEN g = 4 THEN 1 ELSE 0 END AS BIGINT)
            AS heuristic,
          CAST(age AS BIGINT) AS age_s
        FROM v ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{Http, Revisit}
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val g = (id % 6).toInt
            val age = (id % 7) * 400
            // D = 1700000000 (Tue, 14 Nov 2023 22:13:20 GMT);
            // Expires = D + 800; Last-Modified = D − 20000 (10% → 2000)
            val date = "Date" -> "Tue, 14 Nov 2023 22:13:20 GMT"
            val lastMod =
              "Last-Modified" -> "Tue, 14 Nov 2023 16:40:00 GMT"
            val etag = "ETag" -> s""""e$id""""
            val headers = g match {
              case 0 => Seq("Cache-Control" -> "max-age=1000", etag)
              case 1 => Seq("Cache-Control" -> "no-store", etag)
              case 2 => Seq("Cache-Control" -> "no-cache", date, lastMod)
              case 3 => Seq(date,
                "Expires" -> "Tue, 14 Nov 2023 22:26:40 GMT")
              case 4 => Seq(date, lastMod, etag)
              case _ => Seq(
                "Cache-Control" -> "s-maxage=1200, max-age=50",
                date, lastMod)
            }
            val p = Http.render(200, "OK",
              ("Content-Type" -> "text/html") +: headers,
              s"cached page $id".getBytes("UTF-8"))
            val v = Revisit.decideFromResponse(p, age).get
            (id, v.action, v.validator, v.lifetimeS,
              if (v.heuristic) 1L else 0L, age)
          }
          .toDF("doc_id", "action", "validator", "lifetime_s",
            "heuristic", "age_s")
          .orderBy("doc_id")
      }),

    Q("q232_feed_discovery",
      "RSS/Atom feed discovery (T141, graft.text.Feeds — VERDICT-r10 " +
        "item 5: sitemaps (q213) are one discovery channel; feeds are " +
        "the other half of real frontier discovery): per doc, a real " +
        "feed document — RSS 2.0 for even docs (channel-transparent " +
        "items, CDATA link, entity title, RFC 822 pubDates incl. a " +
        "+0000 offset and a 2-digit-year form), Atom for odd docs " +
        "(href-attribute links with rel selection: enclosure skipped, " +
        "alternate wins; published/updated RFC 3339 dates) — each " +
        "planted with a comment-decoy entry and a link-less entry " +
        "that must DROP; every third entry's date is invalid (null " +
        "day). Parsed by the single-forward-scan Feeds parser " +
        "(DOM-refereed ×200 in FeedsSpec), links canonicalized " +
        "through T120, per-doc rollup of links + stated-date epoch " +
        "days. Zero shuffle — discovered links feed the same T125 " +
        "politeness rollup as sitemap locs at 100 TB",
      Some("""WITH e AS (SELECT doc_id, doc_id % 97 AS g, j.j AS j
          FROM documents, range(0, 3) j(j) WHERE j.j < doc_id % 3 + 1)
        SELECT doc_id,
          CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'feed' END AS kind,
          CAST(doc_id % 3 + 1 AS BIGINT) AS n_entries,
          string_agg('http://ex' || CAST(g AS VARCHAR) || '.test/f' ||
              CAST(doc_id AS VARCHAR) || '/' || CAST(j AS VARCHAR),
            ',' ORDER BY j) AS links,
          string_agg(CASE j % 3 WHEN 0 THEN '19723' WHEN 1 THEN '19889'
            ELSE '-' END, ',' ORDER BY j) AS days
        FROM e GROUP BY doc_id, g ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.text.{Feeds, Urls}
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val g = id % 97
            val k = (id % 3 + 1).toInt
            val rss = id % 2 == 0
            val body = (0 until k).map { j =>
              val link = s"http://ex$g.test/f$id/$j"
              if (rss) {
                val date = j % 3 match {
                  case 0 => "Mon, 01 Jan 2024 00:00:00 GMT"
                  case 1 => "Sat, 15 Jun 24 12:30:00 +0000"
                  case _ => "someday soon"
                }
                s"<item><title>t$id &amp; $j</title>" +
                  s"<link><![CDATA[$link]]></link>" +
                  s"<pubDate>$date</pubDate></item>"
              } else {
                val date = j % 3 match {
                  case 0 => "<published>2024-01-01T00:00:00Z" +
                    "</published>"
                  case 1 => "<updated>2024-06-15T08:00:00Z</updated>"
                  case _ => "<published>2024-13-01T00:00:00Z" +
                    "</published>"
                }
                s"<entry><title>t$id &amp; $j</title>" +
                  "<link rel=\"enclosure\" " +
                  s"""href="http://ex$g.test/skip.mp3"/>""" +
                  s"""<link rel="alternate" href="$link"/>$date""" +
                  "</entry>"
              }
            }.mkString
            val decoys = (if (rss)
              "<!-- <item><link>http://decoy.test/</link></item> -->" +
                "<item><title>linkless drops</title></item>"
            else
              "<!-- <entry><link href='http://decoy.test/'/></entry>" +
                " --><entry><title>linkless drops</title></entry>")
            val xml =
              if (rss) "<?xml version=\"1.0\"?><rss version=\"2.0\">" +
                s"<channel><title>c$id</title>" +
                s"<link>http://ex$g.test/</link>$decoys$body" +
                "</channel></rss>"
              else "<?xml version=\"1.0\"?>" +
                "<feed xmlns=\"http://www.w3.org/2005/Atom\">" +
                s"""<link rel="self" href="http://ex$g.test/feed"/>""" +
                s"$decoys$body</feed>"
            val p = Feeds.parse(xml)
            val links = p.entries
              .flatMap(e => Urls.canonicalize(e.link))
            (id, p.kind, p.entries.length.toLong,
              links.mkString(","),
              p.entries.map(_.epochDay.map(_.toString).getOrElse("-"))
                .mkString(","))
          }
          .toDF("doc_id", "kind", "n_entries", "links", "days")
          .orderBy("doc_id")
      }),

    Q("q233_warc_roundtrip",
      "WARC WRITE path round trip (T142, Warc.write — VERDICT-r10 " +
        "item 6: the engine parsed WARC (q206) but could not emit it; " +
        "the ingest story was one-directional): the q206 archives " +
        "rebuilt through the PRODUCTION writer — Warc.write generates " +
        "the WARC-Record-ID (deterministic name-based UUID: the " +
        "determinism discipline's stand-in for v4) and the " +
        "WARC-Block-Digest (sha1 base32, the Common Crawl convention) " +
        "— gzip-wrapped, walked back through T104 + the strict T115 " +
        "reader, and every record's digest header RE-DERIVED from the " +
        "parsed body and VERIFIED (n_digest_ok must equal n_records). " +
        "All other columns match q206's closed-form oracle verbatim: " +
        "writer and parser are provably inverse on real archive " +
        "bytes. Byte-exact reproducibility is spec'd in WarcSpec. " +
        "Archive bytes never shuffle",
      Some("""WITH g AS (SELECT doc_id, doc_id % 3 + 1 AS n FROM documents),
        m AS (SELECT g.doc_id, k.k,
            CASE WHEN k.k = 0 THEN 'warcinfo'
                 WHEN (g.doc_id + k.k) % 2 = 0 THEN 'response'
                 ELSE 'request' END AS typ,
            g.doc_id % 40 + 5 * k.k + 7 AS len,
            97 + (g.doc_id + k.k) % 26 AS bv
          FROM g, range(0, 3) k(k) WHERE k.k < g.n)
        SELECT doc_id AS media_id,
          CAST(COUNT(*) AS BIGINT) AS n_records,
          CAST(SUM(CASE WHEN typ = 'response' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_response,
          CAST(SUM(len) AS BIGINT) AS body_bytes,
          CAST(SUM(len * bv) AS BIGINT) AS body_sum,
          CAST(COUNT(*) AS BIGINT) AS n_digest_ok,
          string_agg(CASE WHEN typ <> 'warcinfo'
            THEN 'http://ex.test/d' || doc_id || '/r' || k END,
            ',' ORDER BY k) AS uris,
          string_agg(md5(repeat(chr(CAST(bv AS INT)), CAST(len AS INT))),
            ',' ORDER BY k) AS md5s
        FROM m GROUP BY doc_id ORDER BY media_id"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{Compressed, Warc}
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val n = (id % 3 + 1).toInt
            val bos = new java.io.ByteArrayOutputStream()
            for (k <- 0 until n) {
              val typ =
                if (k == 0) "warcinfo"
                else if ((id + k) % 2 == 0) "response"
                else "request"
              val len = (id % 40 + 5 * k + 7).toInt
              val body =
                Array.fill[Byte](len)(('a' + ((id + k) % 26)).toByte)
              val rec = Warc.write(typ, "2026-01-01T00:00:00Z", body,
                targetUri = if (typ == "warcinfo") None
                  else Some(s"http://ex.test/d$id/r$k"),
                contentType = Some(if (typ == "warcinfo")
                  "application/warc-fields" else "application/http"))
              bos.write(Compressed.gzipMember(rec, None))
            }
            val parsed = Compressed.memberPayloads(bos.toByteArray)
              .getOrElse(Seq.empty)
              .flatMap { case (_, payload) =>
                Warc.parseSingleWithBody(payload).map { case (r, b) =>
                  // the reader VERIFIES the digest the writer emitted
                  val ok = Warc.header(payload, "WARC-Block-Digest")
                    .contains(Warc.blockDigest(b))
                  (r, ok)
                }
              }
            val recs = parsed.map(_._1)
            val uris = recs.flatMap(_.targetUri)
            (id, recs.length.toLong,
              recs.count(_.warcType == "response").toLong,
              recs.map(_.contentLength).sum,
              recs.map(_.bodySum).sum,
              parsed.count(_._2).toLong,
              if (uris.isEmpty) null else uris.mkString(","),
              recs.map(_.bodyMd5).mkString(","))
          }
          .toDF("media_id", "n_records", "n_response", "body_bytes",
            "body_sum", "n_digest_ok", "uris", "md5s")
          .orderBy("media_id")
      }),

    Q("q234_sql_frontier",
      "the crawl frontier driven ENTIRELY from SQL text (T143, the " +
        "q138/q188 discipline — VERDICT-r10 item 8): the frontier " +
        "scalars are session functions (graft_canonical_url = T120, " +
        "graft_robots_allowed = T121, graft_registrable_domain = " +
        "T130 — codegen'd expressions whose eval bodies are the SAME " +
        "text modules the Scala API uses), so a spark.sql user " +
        "composes messy-URL synthesis → canonicalization → robots " +
        "gate → per-domain politeness rollup and hash-matches q216's " +
        "oracle EXACTLY; the rollup key is the registrable domain " +
        "(the production politeness scope), which on this host space " +
        "equals the host. Declared trade (the q188 pattern): the SQL " +
        "scalar parses robots per ROW; the production plan is the " +
        "per-host rules dimension (Crawl.hostRobots + broadcast join)",
      Some("""WITH u AS (
          SELECT doc_id % 97 AS g,
            'http://ex' || CAST(doc_id % 97 AS VARCHAR) || '.test/p' ||
              CAST(doc_id AS VARCHAR) || '/' || CAST(j.j AS VARCHAR) ||
              '?x=1' AS url
          FROM documents, range(0, 3) j(j) WHERE j.j < doc_id % 3 + 1),
        h AS (SELECT g, COUNT(*) AS n_urls,
            md5(string_agg(url, ',' ORDER BY url)) AS order_md5
          FROM u GROUP BY g)
        SELECT 'ex' || CAST(g AS VARCHAR) || '.test' AS host,
          CAST(n_urls AS BIGINT) AS n_urls,
          CAST(1 + g % 5 AS BIGINT) AS delay_s,
          CAST((n_urls - 1) * (1 + g % 5) AS BIGINT) AS makespan_s,
          order_md5
        FROM h ORDER BY host"""),
      (s, d) => {
        table(s, d, "documents")
          .createOrReplaceTempView("docs_frontier_v")
        s.sql("""
          WITH d AS (SELECT doc_id, doc_id % 97 AS g
              FROM docs_frontier_v),
            pages AS (
              SELECT g, concat('HTTP://EX', cast(g AS STRING),
                  '.TEST:80/p', cast(doc_id AS STRING), '/',
                  cast(j AS STRING), '?x=1#frag') AS u
              FROM (SELECT doc_id, g,
                  explode(sequence(0, cast(doc_id % 3 AS INT))) AS j
                FROM d)
              UNION ALL
              SELECT g, concat('http://ex', cast(g AS STRING),
                '.test/private/', cast(doc_id AS STRING)) FROM d),
            canon AS (SELECT g, graft_canonical_url(u) AS cu
              FROM pages),
            parts AS (SELECT g, cu,
                regexp_extract(cu, '^http://([^/]+)', 1) AS host,
                regexp_replace(cu, '^http://[^/]+', '') AS pathq
              FROM canon WHERE cu IS NOT NULL),
            gate AS (SELECT graft_registrable_domain(host) AS host,
                cu, 1 + g % 5 AS delay_s
              FROM parts
              WHERE graft_robots_allowed(
                concat('User-agent: *\nCrawl-delay: ',
                  cast(1 + g % 5 AS STRING),
                  '\nDisallow: /private/\n'),
                'graftbot', pathq))
          SELECT host, count(1) AS n_urls, delay_s,
            (count(1) - 1) * delay_s AS makespan_s,
            md5(concat_ws(',', sort_array(collect_list(cu))))
              AS order_md5
          FROM gate GROUP BY host, delay_s ORDER BY host""")
      }),

    Q("q235_redirect_chains",
      "HTTP redirect-chain resolution (T144, multimodal.Redirects — " +
        "the hop between a frontier's scheduled fetch and the " +
        "document it lands on; a real crawl sees 3xx on a large " +
        "fraction of scheduled URLs): per doc, a simulated site of " +
        "REAL rendered responses exercises one of six chain shapes — " +
        "a 2-hop chain whose first Location is RELATIVE (RFC 9110 " +
        "§10.2.2, resolved against the current URL by the T129 " +
        "resolver) and whose second crosses hosts; a canonical-key " +
        "loop (the messy variant of a seen URL must trip the SEEN " +
        "set); a 10-deep chain cut by the 5-hop crawler cap; a " +
        "Location-less dangling 301; a 503/429 carrying Retry-After " +
        "in BOTH legal forms (delta-seconds on even docs, HTTP-date " +
        "minus Date on odd); and a terminal 404. Every outcome " +
        "(status, hop count, canonical final URL, backoff seconds) " +
        "closed-form in doc_id. Zero shuffle — the chain walk rides " +
        "the T117 narrow map, and final_url feeds the T120 dedup key " +
        "so five entry URLs reaching one document count ONCE",
      Some("""SELECT doc_id,
          CASE doc_id % 6 WHEN 0 THEN 'ok' WHEN 1 THEN 'loop'
            WHEN 2 THEN 'too_many' WHEN 3 THEN 'dangling'
            WHEN 4 THEN 'retry' ELSE 'error' END AS status,
          CAST(CASE doc_id % 6 WHEN 0 THEN 2 WHEN 1 THEN 2
            WHEN 2 THEN 5 ELSE 0 END AS BIGINT) AS hops,
          CASE WHEN doc_id % 6 = 0 THEN 'http://ex' ||
            CAST((doc_id % 97 + 1) % 97 AS VARCHAR) || '.test/final' ||
            CAST(doc_id AS VARCHAR) END AS final_url,
          CAST(CASE WHEN doc_id % 6 = 4 THEN 120 END AS BIGINT)
            AS backoff_s
        FROM documents ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{Http, Redirects}
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val g = id % 97
            def resp(st: Int, hs: (String, String)*) =
              Http.render(st, "x", hs.toSeq, Array.empty[Byte])
            val (start, site) = (id % 6) match {
              case 0 => (s"HTTP://EX$g.TEST:80/dir/s$id#x", Map(
                s"http://ex$g.test/dir/s$id" ->
                  resp(301, "Location" -> "../r1"),
                s"http://ex$g.test/r1" -> resp(302, "Location" ->
                  s"http://ex${(g + 1) % 97}.test/final$id"),
                s"http://ex${(g + 1) % 97}.test/final$id" ->
                  resp(200)))
              case 1 => (s"http://ex$g.test/a$id", Map(
                s"http://ex$g.test/a$id" ->
                  resp(301, "Location" -> s"/b$id"),
                s"http://ex$g.test/b$id" -> resp(301,
                  "Location" -> s"HTTP://EX$g.TEST:80/a$id#f")))
              case 2 => ((s"http://ex$g.test/h0", (0 to 9).map(k =>
                s"http://ex$g.test/h$k" ->
                  resp(301, "Location" -> s"/h${k + 1}")).toMap))
              case 3 => (s"http://ex$g.test/d$id", Map(
                s"http://ex$g.test/d$id" -> resp(301)))
              case 4 =>
                val ra = if (id % 2 == 0) Seq("Retry-After" -> "120")
                else Seq(
                  "Retry-After" -> "Tue, 14 Nov 2023 22:15:20 GMT",
                  "Date" -> "Tue, 14 Nov 2023 22:13:20 GMT")
                (s"http://ex$g.test/r$id", Map(
                  s"http://ex$g.test/r$id" -> resp(503, ra: _*)))
              case _ => (s"http://ex$g.test/e$id", Map(
                s"http://ex$g.test/e$id" -> resp(404)))
            }
            val o = Redirects.follow(start, site.get)
            (id, o.status, o.hops.toLong, o.finalUrl.orNull,
              o.backoffS.map(java.lang.Long.valueOf).orNull)
          }
          .toDF("doc_id", "status", "hops", "final_url", "backoff_s")
          .orderBy("doc_id")
      }),

    Q("q236_tracking_param_dedup",
      "tracking-parameter canonicalization (T145, Urls.stripTracking " +
        "— the dedup-grade canonical key): campaign URLs differ only " +
        "in utm_*/click-id parameters, so a frontier keyed on the " +
        "plain T120 canonical fetches every campaign variant " +
        "separately and a dedup keyed on it stores each one. Per " +
        "doc, each target URL arrives as THREE variants — " +
        "utm_source'd, a messy-cased utm_campaign+gclid+fragment " +
        "form, and a trailing-dot-host clean form — that must " +
        "collapse to ONE stripped canonical (real params like id=7 " +
        "survive; a param VALUE mentioning utm_ is untouched). " +
        "Output: raw count, distinct stripped keys, the keys " +
        "themselves — one surviving variant or one lost real param " +
        "hash-fails. Zero shuffle, pure per-row work beside T120",
      Some("""WITH e AS (SELECT doc_id, doc_id % 97 AS g, j.j AS j
          FROM documents, range(0, 3) j(j) WHERE j.j < doc_id % 3 + 1)
        SELECT doc_id,
          CAST(3 * (doc_id % 3 + 1) AS BIGINT) AS n_raw,
          CAST(doc_id % 3 + 1 AS BIGINT) AS n_keys,
          string_agg('http://ex' || CAST(g AS VARCHAR) || '.test/t' ||
              CAST(doc_id AS VARCHAR) || '/' || CAST(j AS VARCHAR) ||
              '?id=7', ',' ORDER BY j) AS keys
        FROM e GROUP BY doc_id, g ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.text.Urls
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val g = id % 97
            val raws = (0 until (id % 3 + 1).toInt).flatMap(j => Seq(
              s"http://ex$g.test/t$id/$j?id=7&utm_source=news",
              s"HTTP://EX$g.TEST:80/t$id/$j?utm_campaign=x&id=7" +
                "&gclid=Z#f",
              s"http://ex$g.test./t$id/$j?id=7"))
            val keys = raws.flatMap(Urls.stripTracking)
              .distinct.sorted
            (id, raws.length.toLong, keys.length.toLong,
              keys.mkString(","))
          }
          .toDF("doc_id", "n_raw", "n_keys", "keys")
          .orderBy("doc_id")
      }),

    Q("q237_crawl_budget",
      "crawl budget allocation (T146 — the composition that makes " +
        "q230's ranks OPERATIONAL): a global fetch budget of 100,000 " +
        "is split across hosts proportionally to their PageRank by " +
        "LARGEST-REMAINDER apportionment (T78's discipline): floor " +
        "shares (B·pr DIV Σpr, exact integer cross-multiplication), " +
        "then the leftover B − Σfloors goes +1 each to the largest " +
        "remainders (rem desc, host asc tiebreak) — quotas sum to B " +
        "EXACTLY, no float shares, bit-identical cross-engine — the " +
        "remainder tiebreak orders by the host STRING in both engines " +
        "(review-r11: an integer-h oracle tiebreak silently diverges " +
        "from the engine's string order the moment the tied block is " +
        "cut). The " +
        "oracle re-runs the full rank pipeline AND the apportionment, " +
        "so one mis-ranked host or one misallocated unit hash-fails. " +
        "Scale shape: ranks ride the q230 pipeline; the apportionment " +
        "is a hosts-sized frame, and the remainder rank runs as an " +
        "inclusive running sum of 1 over (rem desc, host) — the exact " +
        "shape the RunningTotal strategy auto-routes onto the " +
        "two-phase parallel prefix scan (VERDICT-r11 item 1: the " +
        "row_number window planned as ONE task sorting every host; " +
        "at 100 TB host counts are millions — now it is a range " +
        "exchange + 32 bounded carry rows, plan-gated in PlanSpec)",
      Some {
        val prIters = (1 to 5).map { k =>
          s"""pr$k AS (SELECT n0.h,
            CAST(150000000 + (COALESCE(s.c, 0) * 85) // 100 AS BIGINT)
              AS pr
          FROM n0 LEFT JOIN (SELECT e.dst AS h,
              SUM((p.pr * e.w) // ow.ow) AS c
            FROM e JOIN pr${k - 1} p ON e.src = p.h
            JOIN ow ON e.src = ow.src GROUP BY e.dst) s USING (h))"""
        }.mkString(",\n        ")
        s"""WITH o AS (SELECT * FROM (VALUES (1, 1), (2, 1), (0, 5))
            t(off, w)),
          l AS (SELECT doc_id % 97 AS g,
              (doc_id % 97 + o.off) % 97 AS dg, o.w
            FROM documents, o),
          e AS (SELECT g AS src, dg AS dst, CAST(SUM(w) AS BIGINT) AS w
            FROM l GROUP BY g, dg),
          ow AS (SELECT src, SUM(w) AS ow FROM e GROUP BY src),
          n0 AS (SELECT DISTINCT doc_id % 97 AS h FROM documents),
          pr0 AS (SELECT h, CAST(1000000000 AS BIGINT) AS pr FROM n0),
          $prIters,
          tot AS (SELECT SUM(pr) AS sp FROM pr5),
          alloc AS (SELECT h, pr,
              (100000 * pr) // sp AS fl,
              (100000 * pr) % sp AS rem
            FROM pr5, tot),
          lo AS (SELECT 100000 - SUM(fl) AS lft FROM alloc),
          r AS (SELECT h, pr, fl,
              row_number() OVER (ORDER BY rem DESC,
                'ex' || CAST(h AS VARCHAR) || '.test') AS rk
            FROM alloc)
        SELECT 'ex' || CAST(h AS VARCHAR) || '.test' AS host,
          pr,
          CAST(fl + CASE WHEN rk <= (SELECT lft FROM lo) THEN 1
            ELSE 0 END AS BIGINT) AS quota
        FROM r ORDER BY host"""
      },
      (s, d) =>
        // the shared apportion builder carries the de-weaked shape:
        // the remainder rank IS a running sum auto-routed onto the
        // RunningTotal two-phase scan (VERDICT-r11 item 1) — the
        // PlanSpec gate on THIS query pins the route for every caller
        apportion(hostRank(s, table(s, d, "documents")), 100000L)
          .orderBy("host")),

    Q("q238_feed_autodiscovery",
      "feed AUTODISCOVERY → parse composition (T147 — how a frontier " +
        "actually FINDS the T141 feeds: pages advertise them as " +
        "<link rel=alternate type=application/rss+xml|atom+xml>): per " +
        "doc, an HTML page advertising an RSS feed by RELATIVE href " +
        "(plus, on odd docs, an Atom feed by protocol-relative href) " +
        "among four decoys — rel=stylesheet, alternate-with-text/html " +
        "type, a commented-out feed link, an href-less link — is " +
        "scanned by the T118 extractor's new feeds capture, each " +
        "advertised URL resolves against the page base (T129) and " +
        "canonicalizes (T120), the feed body is fetched from the " +
        "simulated store and parsed by T141, and the discovered " +
        "entry links roll up per doc. One decoy leaking, one " +
        "mis-resolved href, or one lost entry hash-fails. Zero " +
        "shuffle — the full discover→fetch→parse loop is one narrow " +
        "map, the production shape",
      Some("""SELECT doc_id,
          CAST(1 + doc_id % 2 AS BIGINT) AS n_feeds,
          CAST(2 + doc_id % 2 AS BIGINT) AS n_entries,
          CASE WHEN doc_id % 2 = 1 THEN
            'http://ex' || CAST(doc_id % 97 AS VARCHAR) || '.test/fa' ||
              CAST(doc_id AS VARCHAR) || ',' ELSE '' END ||
            'http://ex' || CAST(doc_id % 97 AS VARCHAR) || '.test/fi' ||
              CAST(doc_id AS VARCHAR) || '/0,' ||
            'http://ex' || CAST(doc_id % 97 AS VARCHAR) || '.test/fi' ||
              CAST(doc_id AS VARCHAR) || '/1' AS links
        FROM documents ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Html
        import graft.text.{Feeds, Urls}
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val g = id % 97
            val base = s"http://ex$g.test/page$id"
            val page =
              "<head>" +
                "<link rel=\"alternate\" " +
                "type=\"application/rss+xml\" " +
                s"""href="/feeds/f$id.xml">""" +
                (if (id % 2 == 1)
                  "<link rel=\"alternate\" " +
                    "type=\"APPLICATION/ATOM+XML\" " +
                    s"""href="//ex$g.test/feeds/a$id"/>"""
                else "") +
                "<link rel=\"stylesheet\" type=\"text/css\" " +
                "href=\"/s.css\">" +
                "<link rel=\"alternate\" type=\"text/html\" " +
                "href=\"/mobile\">" +
                "<!-- <link rel=\"alternate\" " +
                "type=\"application/rss+xml\" href=\"/decoy\"> -->" +
                "<link rel=\"alternate\" " +
                "type=\"application/rss+xml\"></head>" +
                s"<body><p>page $id</p></body>"
            val store = Map(
              s"http://ex$g.test/feeds/f$id.xml" ->
                ("<rss><channel>" +
                  s"<item><link>http://ex$g.test/fi$id/0</link>" +
                  "<pubDate>Mon, 01 Jan 2024 00:00:00 GMT</pubDate>" +
                  "</item>" +
                  s"<item><link>http://ex$g.test/fi$id/1</link>" +
                  "</item></channel></rss>"),
              s"http://ex$g.test/feeds/a$id" ->
                ("<feed><entry>" +
                  s"""<link href="http://ex$g.test/fa$id"/>""" +
                  "<updated>2024-06-15T00:00:00Z</updated>" +
                  "</entry></feed>"))
            val feedUrls = Html.extractText(page).feeds
              .flatMap(h => Urls.resolve(base, h))
              .flatMap(Urls.canonicalize)
            val entries = feedUrls.flatMap(u =>
              store.get(u).map(Feeds.parse).toSeq
                .flatMap(_.entries.map(_.link)))
            (id, feedUrls.length.toLong, entries.length.toLong,
              entries.sorted.mkString(","))
          }
          .toDF("doc_id", "n_feeds", "n_entries", "links")
          .orderBy("doc_id")
      }),

    Q("q239_stream_crawl_ledger",
      "STREAMING per-URL crawl ledger (T148 — the standing state a " +
        "frontier keeps between q231 revisit decisions and q224 " +
        "recrawls): fetch-result events (url, ts, status, etag) " +
        "arrive in FOUR genuine micro-batches; each batch partial-" +
        "aggregates and MERGES into the standing ledger (fetch/error " +
        "counts summed, first_ts min'd, the LATEST status/etag " +
        "carried by a lexicographic struct-max on the unique ts — " +
        "every merge op is associative, so the drained ledger is " +
        "arrival-order-FREE and the batch groupBy oracle hash-matches " +
        "it exactly, the q126/q187 drained-equals-batch discipline). " +
        "The ledger then emits the frontier action per URL: " +
        "quarantine when errors reach a third of fetches (integer " +
        "cross-multiply), skip when the origin last said 304, else " +
        "refetch. Scale shape per batch: ONE url-keyed exchange of " +
        "batch-sized partials + the ledger merge keyed the same way " +
        "— state grows with URLS, never with fetch history",
      Some("""WITH e AS (SELECT doc_id % 120 AS k, doc_id AS ts,
            CASE WHEN doc_id % 7 = 0 THEN 500
                 WHEN doc_id % 5 = 0 THEN 304 ELSE 200 END AS status,
            'e' || CAST(doc_id % 13 AS VARCHAR) AS etag
          FROM documents),
        g AS (SELECT k, COUNT(*) AS n_fetches,
            SUM(CASE WHEN status >= 500 THEN 1 ELSE 0 END) AS n_errors,
            MIN(ts) AS first_ts, MAX(ts) AS last_ts
          FROM e GROUP BY k)
        SELECT 'http://ex' || CAST(g.k % 97 AS VARCHAR) || '.test/u' ||
            CAST(g.k AS VARCHAR) AS url,
          CAST(n_fetches AS BIGINT) AS n_fetches,
          CAST(n_errors AS BIGINT) AS n_errors,
          CAST(first_ts AS BIGINT) AS first_ts,
          CAST(last_ts AS BIGINT) AS last_ts,
          CAST(le.status AS BIGINT) AS last_status,
          le.etag AS last_etag,
          CASE WHEN 3 * n_errors >= n_fetches THEN 'quarantine'
               WHEN le.status = 304 THEN 'skip'
               ELSE 'refetch' END AS action
        FROM g JOIN e le ON le.k = g.k AND le.ts = g.last_ts
        ORDER BY url"""),
      (s, d) => {
        import org.apache.spark.sql.DataFrame
        val events = table(s, d, "documents").select(
          concat(lit("http://ex"), (col("doc_id") % 120) % 97,
            lit(".test/u"), col("doc_id") % 120).as("url"),
          col("doc_id").as("ts"),
          when(col("doc_id") % 7 === 0, 500)
            .when(col("doc_id") % 5 === 0, 304)
            .otherwise(200).as("status"),
          concat(lit("e"), col("doc_id") % 13).as("etag"))
        // one ledger row per URL: counts + min + the ts-keyed struct
        // max (ts is unique per event, so "latest" is deterministic
        // and the max is associative across any batch split)
        def toLedger(df: DataFrame): DataFrame =
          df.groupBy("url").agg(
            count(lit(1)).as("n_fetches"),
            sum(when(col("status") >= 500, 1L).otherwise(0L))
              .as("n_errors"),
            min(col("ts")).as("first_ts"),
            max(struct(col("ts"), col("status"), col("etag")))
              .as("last"))
        def merge(a: DataFrame, b: DataFrame): DataFrame =
          a.union(b).groupBy("url").agg(
            sum("n_fetches").as("n_fetches"),
            sum("n_errors").as("n_errors"),
            min("first_ts").as("first_ts"),
            max("last").as("last"))
        Common.withDrainShuffle(s) {
          // TWO micro-batches (round-15, VERDICT-r14 item 2): >1 batch
          // proves the incremental merge + applied-batch watermark;
          // the restart/exactly-once proof lives in LedgerStoreSpec,
          // and each extra batch re-pays the fixed per-batch ledger
          // commit + scheduling cost
          val stream = Common.stagedStream(events, col("ts"), "ledger_in", d)
          val chkDir = Common.scratchDir("ledger_chk", d)
          // restart-safe exactly-once (VERDICT-r12 item 1): the ledger
          // and the applied-batch watermark persist ATOMICALLY per
          // batch through LedgerStore (versioned snapshot + pointer),
          // sharing the streaming checkpoint's lifetime — recovery
          // from the checkpoint resumes the merge instead of silently
          // dropping pre-restart state. `batchId > lastApplied`
          // subsumes the ADVICE-r11 same-run retry guard (a
          // re-delivered committed batch is ≤ the pointer) AND
          // cross-restart recovery; the pointer advances only AFTER
          // the merge's snapshot lands, so a failed merge is retried,
          // never skipped. LedgerStoreSpec proves kill-and-resume:
          // drain k of n batches, tear the query down, restart against
          // the SAME checkpoint, drained ledger ≡ the batch oracle.
          val store = new graft.streaming.LedgerStore(s,
            s"$chkDir/ledger")
          var (ledger, lastApplied) =
            store.recover(toLedger(events.limit(0)))
          Common.drain(s, chkDir) {
            stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
              if (batchId > lastApplied) {
                ledger = store.commit(
                  merge(ledger, toLedger(batch)), batchId)
                lastApplied = batchId
              }
              ()
            }
          }
          ledger.select(col("url"), col("n_fetches"), col("n_errors"),
            col("first_ts"),
            col("last.ts").as("last_ts"),
            col("last.status").cast("long").as("last_status"),
            col("last.etag").as("last_etag"),
            when(lit(3) * col("n_errors") >= col("n_fetches"),
              "quarantine")
              .when(col("last.status") === 304, "skip")
              .otherwise("refetch").as("action"))
            .orderBy("url")
        }
      }),

    Q("q240_robots_fetch_policy",
      "robots-FETCH policy (T149, Redirects.fetchRobots — RFC 9309 " +
        "§2.3.1, the gate that governs a host BEFORE any rule can: " +
        "what a crawler does when robots.txt itself 404s, 503s, or " +
        "redirects): per doc, one of five fetch scenarios — a direct " +
        "200 with rules; a 404 (unavailable → allow all, §2.3.1.3); " +
        "a 500 (unreachable → assume complete disallow, §2.3.1.4); a " +
        "301 chased to the rules (§2.3.1.2, through the REAL T144 " +
        "follower); a redirect loop (undeliverable → the §2.3.1.2 " +
        "MAY: allow all) — then two probe paths evaluate under the " +
        "resolved policy through the real parser. Every verdict " +
        "closed-form; one mis-branched status class flips a column. " +
        "Zero shuffle — this is per-host work the frontier amortizes " +
        "across every page of the host",
      Some("""SELECT doc_id,
          CASE doc_id % 5 WHEN 0 THEN 'rules' WHEN 1 THEN 'allow_all'
            WHEN 2 THEN 'disallow_all' WHEN 3 THEN 'rules'
            ELSE 'allow_all' END AS policy,
          CAST(CASE WHEN doc_id % 5 IN (1, 4) THEN 1 ELSE 0 END
            AS BIGINT) AS private_ok,
          CAST(CASE WHEN doc_id % 5 = 2 THEN 0 ELSE 1 END AS BIGINT)
            AS pub_ok
        FROM documents ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.text.Robots
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            // the shared builder keys its five store shapes on g % 5;
            // only the scenario (not the synthesized host name or the
            // body's delay) reaches this query's output columns
            val (policy, bytes) = robotsFetchScenario(id % 5)
            val (privOk, pubOk) = policy match {
              case "rules" =>
                val robots = Robots.parse(
                  new String(bytes.get, "UTF-8"))
                (Robots.isAllowed(robots, "graftbot", s"/private/$id"),
                  Robots.isAllowed(robots, "graftbot", s"/pub/$id"))
              case "allow_all"    => (true, true)
              case _              => (false, false) // disallow_all
            }
            (id, policy, if (privOk) 1L else 0L, if (pubOk) 1L else 0L)
          }
          .toDF("doc_id", "policy", "private_ok", "pub_ok")
          .orderBy("doc_id")
      }),

    Q("q241_content_encoding",
      "HTTP Content-Encoding body decode (T150, Http." +
        "parseResponseFullyDecoded — VERDICT-r11 item 1, the missing " +
        "story of the ingest stack: archived response BODIES are " +
        "routinely gzip/deflate-compressed, and the T117/T126 walk " +
        "handed them to the charset/HTML tier as garbage): per doc, " +
        "one of six wire shapes — identity; Content-Encoding: gzip " +
        "(JDK GZIPOutputStream as the independent writer); deflate " +
        "as RFC 1950 zlib; Transfer-Encoding: chunked STACKED over " +
        "CE gzip (RFC 9110 §8.4 + 9112 §6.1 — the Common Crawl " +
        "shape, de-framed then decompressed); raw-deflate under the " +
        "deflate token (the IIS-era server population, decoded via " +
        "the documented browser-compat sniff); zstd (RFC 8878 via " +
        "the zstd-jni reader Spark itself ships — same-library " +
        "referee caveat documented) — plus a planted " +
        "MISLABEL decoy (CE: gzip over plain bytes) that must flag " +
        "decoded_ok=0 and surface the untouched payload, never " +
        "throw. Every output column closed-form; one wrong byte at " +
        "any layer breaks the md5. Zero shuffle — the decode rides " +
        "the same narrow map as the T117 parse; payload bytes never " +
        "leave the task",
      Some("""WITH t AS (SELECT doc_id,
            'doc ' || CAST(doc_id AS VARCHAR) || ' body ' ||
              repeat('the quick brown fox jumps over the lazy dog ',
                CAST(1 + doc_id % 3 AS INT)) AS payload
          FROM documents)
        SELECT doc_id,
          CASE WHEN doc_id % 12 = 6 THEN 'gzip'
            ELSE CASE doc_id % 6 WHEN 0 THEN ''
              WHEN 1 THEN 'gzip' WHEN 2 THEN 'deflate'
              WHEN 3 THEN 'gzip' WHEN 4 THEN 'deflate'
              ELSE 'zstd' END END AS codings,
          CAST(CASE WHEN doc_id % 6 = 3 THEN 3 ELSE 0 END AS BIGINT)
            AS n_chunks,
          CAST(CASE WHEN doc_id % 12 = 6 THEN 0 ELSE 1 END AS BIGINT)
            AS decoded_ok,
          CAST(length(payload) AS BIGINT) AS payload_len,
          md5(payload) AS payload_md5
        FROM t ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Http
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val payload = (s"doc $id body " +
              "the quick brown fox jumps over the lazy dog " *
                (1 + id % 3).toInt).getBytes("UTF-8")
            def gz(p: Array[Byte]): Array[Byte] = {
              val bos = new java.io.ByteArrayOutputStream()
              val g = new java.util.zip.GZIPOutputStream(bos)
              g.write(p); g.close()
              bos.toByteArray
            }
            def zl(p: Array[Byte], raw: Boolean): Array[Byte] = {
              val bos = new java.io.ByteArrayOutputStream()
              // DeflaterOutputStream.close() only end()s DEFAULT-
              // constructed deflaters; an explicitly-passed one must be
              // ended by the caller or its ~256 KB of native zlib state
              // lives until finalization — at one per row that is GBs
              // of native churn (measured: q241 solo 2.5 s vs its
              // 0.64 s blessed prior, recovered by this end()).
              val defl = new java.util.zip.Deflater(
                java.util.zip.Deflater.DEFAULT_COMPRESSION, raw)
              try {
                val ds = new java.util.zip.DeflaterOutputStream(bos, defl)
                ds.write(p); ds.close()
              } finally defl.end()
              bos.toByteArray
            }
            def chunk3(p: Array[Byte]): Array[Byte] = {
              val bos = new java.io.ByteArrayOutputStream()
              def w(str: String): Unit =
                bos.write(str.getBytes("US-ASCII"))
              val cuts = Seq(0, p.length / 3, 2 * (p.length / 3),
                p.length)
              cuts.sliding(2).foreach { case Seq(a, b) =>
                w((b - a).toHexString + "\r\n")
                bos.write(p, a, b - a)
                w("\r\n")
              }
              w("0\r\n\r\n")
              bos.toByteArray
            }
            val ct = "Content-Type" -> "text/plain; charset=utf-8"
            val wire =
              if (id % 12 == 6) // mislabel decoy: CE lies, body plain
                Http.render(200, "OK",
                  Seq(ct, "Content-Encoding" -> "gzip"), payload)
              else (id % 6) match {
                case 0 => Http.render(200, "OK", Seq(ct), payload)
                case 1 => Http.render(200, "OK",
                  Seq(ct, "Content-Encoding" -> "gzip"), gz(payload))
                case 2 => Http.render(200, "OK",
                  Seq(ct, "Content-Encoding" -> "deflate"),
                  zl(payload, raw = false))
                case 3 => Http.renderRaw(200, "OK",
                  Seq(ct, "Content-Encoding" -> "gzip",
                    "Transfer-Encoding" -> "chunked"),
                  chunk3(gz(payload)))
                case 4 => Http.render(200, "OK",
                  Seq(ct, "Content-Encoding" -> "deflate"),
                  zl(payload, raw = true))
                case _ => Http.render(200, "OK",
                  Seq(ct, "Content-Encoding" -> "zstd"),
                  com.github.luben.zstd.Zstd.compress(payload))
              }
            val (_, decoded, chunkMeta, codingMeta) =
              Http.parseResponseFullyDecoded(wire).get
            (id, codingMeta.codings.mkString(","),
              chunkMeta.map(_.nChunks.toLong).getOrElse(0L),
              if (codingMeta.decoded) 1L else 0L,
              decoded.length.toLong,
              Common.md5Hex(decoded))
          }
          .toDF("doc_id", "codings", "n_chunks", "decoded_ok",
            "payload_len", "payload_md5")
          .orderBy("doc_id")
      }),

    Q("q242_base_href",
      "document-base link resolution (T151, Html.extractText's base " +
        "capture — VERDICT-r11 item 3: the T129 resolver used the " +
        "PAGE URL as base, so any page carrying <base href> " +
        "mis-resolved every relative link and feed URL into wrong " +
        "frontier keys): per doc, a page at /dir/sub/page.html " +
        "carries one of three base shapes — none (page URL is the " +
        "base), a RELATIVE <base href=/b2/> (itself resolved against " +
        "the page URL, the HTML5 fallback-base rule), an ABSOLUTE " +
        "cross-host base (CDN shape — relative links now key to a " +
        "DIFFERENT host, exactly the leak this operator exists to " +
        "catch) — plus decoys: a second base (first wins), a " +
        "commented-out base, an href-less base. A relative link, an " +
        "absolute-path link, a cross-host absolute link, and a " +
        "rel=alternate FEED href all resolve against the effective " +
        "base (T118 capture → T151 base → T129 resolve → T120 " +
        "canonicalize); one mis-based resolution hash-fails. Zero " +
        "shuffle — per-row work on the extraction map",
      Some("""SELECT doc_id,
          CAST(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END AS BIGINT)
            AS has_base,
          CASE doc_id % 3
            WHEN 0 THEN 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/dir/sub/page' || CAST(doc_id AS VARCHAR) || '.html'
            WHEN 1 THEN 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/b2/'
            ELSE 'http://cdn.ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/assets/x/' END AS effective_base,
          CASE doc_id % 3
            WHEN 0 THEN 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/dir/sub/r' || CAST(doc_id AS VARCHAR) || '.html'
            WHEN 1 THEN 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/b2/r' || CAST(doc_id AS VARCHAR) || '.html'
            ELSE 'http://cdn.ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/assets/x/r' || CAST(doc_id AS VARCHAR) || '.html'
            END AS rel_link,
          CASE WHEN doc_id % 3 = 2
            THEN 'http://cdn.ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/abs' || CAST(doc_id AS VARCHAR)
            ELSE 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/abs' || CAST(doc_id AS VARCHAR) END AS abs_link,
          'http://other.test/o' || CAST(doc_id AS VARCHAR) AS ext_link,
          CASE doc_id % 3
            WHEN 0 THEN 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/dir/sub/feed.xml'
            WHEN 1 THEN 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/b2/feed.xml'
            ELSE 'http://cdn.ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/assets/x/feed.xml' END AS feed_url
        FROM documents ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Html
        import graft.text.Urls
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val g = id % 97
            val pageUrl = s"http://ex$g.test/dir/sub/page$id.html"
            val baseTag = (id % 3) match {
              case 0 => ""
              case 1 => "<base href=\"/b2/\">"
              case _ => s"""<base href="http://cdn.ex$g.test/assets/x/">"""
            }
            val page =
              "<head>" +
                "<!-- <base href=\"/commented/\"> -->" +
                "<base>" + // href-less: contributes nothing
                baseTag +
                // second base: ignored (first wins) — only planted
                // when a real base exists, else IT would be first
                (if (baseTag.nonEmpty) "<base href=\"/ignored/\">"
                 else "") +
                "<link rel=\"alternate\" " +
                "type=\"application/rss+xml\" href=\"feed.xml\">" +
                "</head><body>" +
                s"""<a href="r$id.html">rel</a>""" +
                s"""<a href="/abs$id">abs</a>""" +
                s"""<a href="http://other.test/o$id">ext</a>""" +
                "</body>"
            val ex = Html.extractText(page)
            // the base attribute itself resolves against the page URL
            // (HTML5 fallback-base rule), then every href resolves
            // against the EFFECTIVE base
            val eb = ex.base
              .flatMap(b => Urls.resolve(pageUrl, b))
              .flatMap(Urls.canonicalize)
              .getOrElse(Urls.canonicalize(pageUrl).get)
            def res(h: String): String =
              Urls.resolve(eb, h).flatMap(Urls.canonicalize)
                .getOrElse("")
            val Seq(rel, abs, ext) = ex.hrefs.map(res)
            val feed = ex.feeds.map(res).head
            (id, if (ex.base.isDefined) 1L else 0L, eb, rel, abs, ext,
              feed)
          }
          .toDF("doc_id", "has_base", "effective_base", "rel_link",
            "abs_link", "ext_link", "feed_url")
          .orderBy("doc_id")
      }),

    Q("q243_sitemap_recursion",
      "sitemap-INDEX recursion (T152, Sitemap.crawlTree — VERDICT-r11 " +
        "gap 3: the parser distinguished sitemapindex from urlset but " +
        "nothing followed the index's children the way q238 " +
        "autodiscovers feeds): per doc, one of five tree shapes — a " +
        "plain urlset; an index fanning to two urlsets (one RELATIVE " +
        "loc resolved against the CURRENT sitemap's URL, T129); a " +
        "two-level index chain whose child index links BACK to the " +
        "root (the cycle guard must count it, not loop); an index " +
        "with a missing child (fetch miss surfaced, walk continues); " +
        "a chain deeper than the depth cap (the child past the cap " +
        "is counted, never fetched) — each walked discover → fetch → " +
        "resolve → canonicalize → parse with every guard counter " +
        "closed-form. One lost entry, one un-guarded cycle, or one " +
        "silently dropped child hash-fails. Per-HOST work the " +
        "frontier amortizes like robots; bounded by the caps " +
        "whatever the host serves",
      Some("""SELECT doc_id,
          CASE WHEN doc_id % 5 = 0 THEN 'urlset' ELSE 'sitemapindex'
            END AS root_kind,
          CAST(CASE doc_id % 5 WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2
            THEN 3 WHEN 3 THEN 2 ELSE 3 END AS BIGINT) AS n_visited,
          CAST(CASE doc_id % 5 WHEN 0 THEN 2 WHEN 1 THEN 3 WHEN 2
            THEN 2 WHEN 3 THEN 1 ELSE 0 END AS BIGINT) AS n_entries,
          CAST(CASE WHEN doc_id % 5 = 2 THEN 1 ELSE 0 END AS BIGINT)
            AS n_cycles,
          CAST(CASE WHEN doc_id % 5 = 3 THEN 1 ELSE 0 END AS BIGINT)
            AS n_missing,
          CAST(CASE WHEN doc_id % 5 = 4 THEN 1 ELSE 0 END AS BIGINT)
            AS n_depth_hits,
          CASE doc_id % 5
            WHEN 0 THEN 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/p' || CAST(doc_id AS VARCHAR) || '/0,' ||
              'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/p' || CAST(doc_id AS VARCHAR) || '/1'
            WHEN 1 THEN 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/p' || CAST(doc_id AS VARCHAR) || '/0,' ||
              'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/p' || CAST(doc_id AS VARCHAR) || '/1,' ||
              'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/p' || CAST(doc_id AS VARCHAR) || '/2'
            WHEN 2 THEN 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/p' || CAST(doc_id AS VARCHAR) || '/0,' ||
              'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/p' || CAST(doc_id AS VARCHAR) || '/1'
            WHEN 3 THEN 'http://ex' || CAST(doc_id % 97 AS VARCHAR) ||
              '.test/p' || CAST(doc_id AS VARCHAR) || '/0'
            ELSE '' END AS locs
        FROM documents ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.text.Sitemap
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val g = id % 97
            val h = s"http://ex$g.test"
            val root = s"$h/sitemap.xml"
            def urlset(locs: Seq[String]) = sitemapUrlset(locs)
            def index(locs: Seq[String]) = sitemapIndex(locs)
            def p(j: Int) = s"$h/p$id/$j"
            val store: Map[String, String] = (id % 5) match {
              case 0 => Map(root -> urlset(Seq(p(0), p(1))))
              case 1 => Map(
                root -> index(Seq(s"/sm/a$id.xml", s"$h/sm/b$id.xml")),
                s"$h/sm/a$id.xml" -> urlset(Seq(p(0), p(1))),
                s"$h/sm/b$id.xml" -> urlset(Seq(p(2))))
              case 2 => Map(
                root -> index(Seq(s"/sm/i$id.xml")),
                // the child index links BACK to the root (cycle) and
                // on to the real urlset by RELATIVE loc
                s"$h/sm/i$id.xml" ->
                  index(Seq("/sitemap.xml", s"u$id.xml")),
                s"$h/sm/u$id.xml" -> urlset(Seq(p(0), p(1))))
              case 3 => Map(
                root -> index(Seq(s"/sm/missing$id.xml",
                  s"/sm/u$id.xml")),
                s"$h/sm/u$id.xml" -> urlset(Seq(p(0))))
              case _ => Map( // depth 3 chain, cap at 2: c3 never fetched
                root -> index(Seq(s"/sm/c1_$id.xml")),
                s"$h/sm/c1_$id.xml" -> index(Seq(s"c2_$id.xml")),
                s"$h/sm/c2_$id.xml" -> index(Seq(s"c3_$id.xml")),
                s"$h/sm/c3_$id.xml" -> urlset(Seq(p(0))))
            }
            val r = Sitemap.crawlTree(root, store.get, maxDepth = 2)
            (id, r.rootKind, r.nVisited.toLong,
              r.entries.length.toLong, r.nCycles.toLong,
              r.nMissing.toLong, r.nDepthHits.toLong,
              r.entries.map(_.loc).sorted.mkString(","))
          }
          .toDF("doc_id", "root_kind", "n_visited", "n_entries",
            "n_cycles", "n_missing", "n_depth_hits", "locs")
          .orderBy("doc_id")
      }),

    Q("q244_crawl_trap",
      "crawl-trap gate (T153, Urls.trapReasons — VERDICT-r11 gap 4: " +
        "without a trap gate one pathological host eats q237's " +
        "budget): per doc, one of six URL families — clean; a " +
        "consecutive segment run /a/a/a/ (the self-referencing " +
        "relative-link explosion); a 14-deep generated path; a " +
        "9-parameter query; calendar pagination (two yyyy/mm pairs " +
        "in one path); an append-don't-replace filter key repeated " +
        "4× — each gated by the per-URL zero-shuffle heuristics " +
        "(Heritrix/StormCrawler class, documented thresholds) AFTER " +
        "canonicalization. Every reason closed-form; a false " +
        "positive on the clean family or a missed trap flips a " +
        "column. At 100 TB this runs on the same narrow map as T120 " +
        "— trapped URLs never reach the politeness rollup or the " +
        "budget allocator",
      Some("""SELECT doc_id,
          CASE doc_id % 6 WHEN 0 THEN 'clean' WHEN 1 THEN 'run'
            WHEN 2 THEN 'deep' WHEN 3 THEN 'params' WHEN 4
            THEN 'calendar' ELSE 'dupkey' END AS family,
          CASE doc_id % 6 WHEN 0 THEN '' WHEN 1 THEN 'segment_run'
            WHEN 2 THEN 'deep_path' WHEN 3 THEN 'param_count'
            WHEN 4 THEN 'calendar' ELSE 'dup_key' END AS reasons,
          CAST(CASE WHEN doc_id % 6 = 0 THEN 0 ELSE 1 END AS BIGINT)
            AS trapped
        FROM documents ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.text.Urls
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val g = id % 97
            val h = s"http://ex$g.test"
            val (family, url) = (id % 6) match {
              case 0 => ("clean", s"$h/blog/2024/05/post$id?x=1")
              case 1 => ("run", s"$h/a/a/a/p$id")
              case 2 => ("deep",
                h + (1 to 13).map(k => s"/s$k").mkString + s"/p$id")
              case 3 => ("params",
                s"$h/p$id?" + (1 to 9).map(k => s"k$k=$k").mkString("&"))
              case 4 => ("calendar", s"$h/2024/01/2024/02/p$id")
              case _ => ("dupkey", s"$h/p$id?f=1&f=2&f=3&f=4")
            }
            val reasons = Urls.trapReasons(url).get
            (id, family, reasons.mkString(","),
              if (reasons.nonEmpty) 1L else 0L)
          }
          .toDF("doc_id", "family", "reasons", "trapped")
          .orderBy("doc_id")
      }),

    Q("q245_conditional_refetch",
      "conditional-fetch EXECUTION loop (T154 — VERDICT-r11 gap 5: " +
        "q231 DECIDES revalidate-vs-skip and q239 STORES validators, " +
        "but nothing executed the 304 path; this closes the loop): " +
        "scheduled re-fetches arrive in four genuine micro-batches; " +
        "each batch takes If-None-Match from the standing ledger, " +
        "runs a REAL conditional GET against rendered origin " +
        "responses (Http.render/parse — a 304 carries no body), and " +
        "merges back: a 304 refreshes validators WITHOUT a body " +
        "fetch (bytes_fetched proves it), a 200 updates etag + " +
        "content digest. Half the URLs start with a stale validator " +
        "(exactly one 200 then 304s — the absorbing state makes the " +
        "drained ledger arrival-order-FREE), half start current " +
        "(304s only). Drained ledger ≡ the batch oracle, the " +
        "q239/q126 discipline; per batch ONE url-keyed exchange, " +
        "state bounded by URLs",
      Some("""WITH e AS (SELECT doc_id % 120 AS k, doc_id AS ts
            FROM documents),
          g AS (SELECT k, COUNT(*) AS n, MAX(ts) AS last_ts
            FROM e GROUP BY k)
        SELECT 'http://ex' || CAST(k % 97 AS VARCHAR) || '.test/u' ||
            CAST(k AS VARCHAR) AS url,
          CAST(n AS BIGINT) AS n_fetches,
          CAST(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
            AS n_200,
          CAST(n - CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
            AS n_304,
          '"o' || CAST(k % 7 AS VARCHAR) || '"' AS etag,
          md5('body of u' || CAST(k AS VARCHAR) || ' rev ' ||
            CAST(k % 7 AS VARCHAR)) AS digest,
          CAST(last_ts AS BIGINT) AS last_ts,
          CAST(CASE WHEN k % 2 = 0 THEN length('body of u' ||
            CAST(k AS VARCHAR) || ' rev ' || CAST(k % 7 AS VARCHAR))
            ELSE 0 END AS BIGINT) AS bytes_fetched
        FROM g ORDER BY url"""),
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.DataFrame
        import graft.multimodal.Http
        // the origin: current entity of url k is CONSTANT — etag
        // "ok%7" (quoted, the RFC 9110 §8.8.3 wire form), body
        // "body of u<k> rev <k%7>". A conditional GET whose
        // If-None-Match matches gets a body-less 304; anything else
        // a 200 with the entity + its ETag
        def origin(k: Long, inm: String): Array[Byte] = {
          val etag = "\"o" + (k % 7) + "\""
          val body = s"body of u$k rev ${k % 7}".getBytes("UTF-8")
          if (inm == etag)
            Http.render(304, "Not Modified", Seq("ETag" -> etag),
              Array.empty[Byte])
          else Http.render(200, "OK", Seq("ETag" -> etag), body)
        }
        val events = table(s, d, "documents").select(
          (col("doc_id") % 120).as("k"), col("doc_id").as("ts"))
        // standing ledger: even k starts STALE (a validator from a
        // previous entity generation), odd k starts current
        val ledger0 = events.select(col("k")).distinct()
          .select(col("k"),
            concat(lit("http://ex"), col("k") % 97, lit(".test/u"),
              col("k")).as("url"),
            when(col("k") % 2 === 0,
              concat(lit("\"e"), col("k") % 13, lit("\"")))
              .otherwise(concat(lit("\"o"), col("k") % 7, lit("\"")))
              .as("etag"),
            when(col("k") % 2 === 0,
              md5(concat(lit("old body of u"), col("k"))))
              .otherwise(md5(concat(lit("body of u"), col("k"),
                lit(" rev "), col("k") % 7))).as("digest"),
            lit(0L).as("n_fetches"), lit(0L).as("n_200"),
            lit(0L).as("n_304"), lit(0L).as("last_ts"),
            lit(0L).as("bytes_fetched"))
        // one batch step: take If-None-Match from the ledger, execute
        // the conditional GET per scheduled event (ts order within the
        // batch), merge the refreshed state back — untouched URLs pass
        // through the anti-join
        def step(ledger: DataFrame, batch: DataFrame): DataFrame = {
          val agg = batch.groupBy("k")
            .agg(sort_array(collect_list(col("ts"))).as("tss"))
          val updates = ledger.join(agg, Seq("k"))
            .as[(Long, String, String, String, Long, Long, Long, Long,
              Long, Seq[Long])]
            .map { case (k, url, etag0, digest0, nF, n200, n304,
                lastTs, bytes, tss) =>
              var etag = etag0
              var digest = digest0
              var c200 = 0L; var c304 = 0L; var by = 0L
              tss.foreach { _ =>
                val resp = origin(k, etag)
                val (status, headers) = Http.statusAndHeaders(resp).get
                if (status == 304) c304 += 1 // validators refresh, no body
                else { // 200: body fetched, digest + etag update
                  val (_, body) = Http.parseResponseWithBody(resp).get
                  etag = headers.find(_._1 == "etag").map(_._2).get
                  digest = Common.md5Hex(body)
                  by += body.length
                  c200 += 1
                }
              }
              (k, url, etag, digest, nF + tss.length, n200 + c200,
                n304 + c304, math.max(lastTs, tss.max), bytes + by)
            }
            .toDF("k", "url", "etag", "digest", "n_fetches", "n_200",
              "n_304", "last_ts", "bytes_fetched")
          ledger.join(updates.select("k"), Seq("k"), "left_anti")
            .union(updates)
        }
        Common.withDrainShuffle(s) {
          // TWO micro-batches (round-15, VERDICT-r14 item 2) — same
          // rationale as q239's trim: incrementality needs >1 batch,
          // restart-safety is LedgerStoreSpec's job
          val stream = Common.stagedStream(events, col("ts"), "refetch_in", d)
          val chkDir = Common.scratchDir("refetch_chk", d)
          // same restart-safe discipline as q239 (VERDICT-r12 item 1):
          // ledger + applied-batch watermark persist atomically per
          // batch via LedgerStore; recovery from the streaming
          // checkpoint resumes instead of dropping pre-restart state
          val store = new graft.streaming.LedgerStore(s,
            s"$chkDir/ledger")
          var (ledger, lastApplied) = store.recover(ledger0)
          Common.drain(s, chkDir) {
            stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
              if (batchId > lastApplied) {
                ledger = store.commit(step(ledger, batch), batchId)
                lastApplied = batchId
              }
              ()
            }
          }
          ledger.select(col("url"), col("n_fetches"), col("n_200"),
            col("n_304"), col("etag"), col("digest"), col("last_ts"),
            col("bytes_fetched"))
            .orderBy("url")
        }
      }),

    Q("q246_frontier_capstone",
      "the frontier DECISION capstone (T155 — the scheduling-side " +
        "analog of q226's ingest capstone, VERDICT-r11 stretch item " +
        "8): per HOST, the complete decision chain composed from the " +
        "production operators — rank (T139 integer PageRank over the " +
        "corpus link graph) → budget (T146 largest-remainder " +
        "apportionment, remainder rank on the RunningTotal parallel " +
        "scan) → robots-FETCH policy (T149 through the REAL redirect " +
        "follower: rules / 404-allow / 500-disallow / redirect-chase " +
        "/ loop-allow by host residue) → schedule (page mass gated " +
        "by the REAL parsed rules: /private/ probes drop under " +
        "rules, flood in under allow_all, everything blocks under " +
        "disallow_all; fetch allotment = min(quota, allowed); " +
        "makespan from the parsed crawl-delay) → revisit verdict " +
        "(T140 RFC 9111 decision off real rendered cache headers). " +
        "The oracle re-runs rank + apportionment AND every policy/" +
        "schedule/revisit column closed-form — one wrong hop " +
        "anywhere in the chain hash-fails. Scale shape: one corpus " +
        "extraction (checkpointed, q230), then everything is " +
        "host-graph-sized; the per-host executors ride one narrow " +
        "map over the 97-row host dimension",
      Some(decisionCapstoneOracle),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{Http, Revisit}
        import graft.text.Robots
        val docsT = table(s, d, "documents")
        // rank → budget: the shared q230/q237 production builders
        val quota = apportion(hostRank(s, docsT), 100000L)
        // per-host page mass off the corpus (the q216 synth shape:
        // doc id%97 → host, id%3+1 public pages + 1 private probe)
        val mass = docsT
          .groupBy((col("doc_id") % 97).as("g"))
          .agg(sum(col("doc_id") % 3 + 1).as("np"),
            count(lit(1)).as("nd"))
        // the per-host DECISION dimension (shared builder — q257's
        // standing frontier re-evaluates it per micro-batch)
        decisionTable(quota, hostDecisionDim(s, mass)).orderBy("host")
      }),

    Q("q247_trap_gated_frontier",
      "trap-gated frontier schedule (T156 — T153 threaded into the " +
        "T125 politeness pipeline, the 'exclude trapped URLs from " +
        "budgeting' composition): per doc, the q216 messy clean URLs " +
        "PLUS one planted trap per doc (rotating family: /a/a/a/ " +
        "segment run, duplicate-key query explosion, calendar " +
        "pagination) PLUS the /private/ probe all flow canonicalize " +
        "(T120) → trap gate (T153: trapped URLs drop BEFORE the " +
        "rollup and are counted per host) → robots gate (T121 " +
        "per-host rules dimension drops the private probe) → per-" +
        "host rollup. The schedule columns must equal q216's " +
        "EXACTLY (one trap leaking into a queue changes its md5) " +
        "while n_trapped pins the gate's workload. Same ONE " +
        "host-keyed shuffle as q216 — the gate is a zero-shuffle " +
        "per-row filter on the same narrow map",
      Some("""WITH u AS (
          SELECT doc_id % 97 AS g,
            'http://ex' || CAST(doc_id % 97 AS VARCHAR) || '.test/p' ||
              CAST(doc_id AS VARCHAR) || '/' || CAST(j.j AS VARCHAR) ||
              '?x=1' AS url
          FROM documents, range(0, 3) j(j) WHERE j.j < doc_id % 3 + 1),
        h AS (SELECT g, COUNT(*) AS n_urls,
            md5(string_agg(url, ',' ORDER BY url)) AS order_md5
          FROM u GROUP BY g),
        t AS (SELECT doc_id % 97 AS g, COUNT(*) AS n_trapped
          FROM documents GROUP BY 1)
        SELECT 'ex' || CAST(g AS VARCHAR) || '.test' AS host,
          CAST(n_urls AS BIGINT) AS n_urls,
          CAST(n_trapped AS BIGINT) AS n_trapped,
          CAST(1 + g % 5 AS BIGINT) AS delay_s,
          CAST((n_urls - 1) * (1 + g % 5) AS BIGINT) AS makespan_s,
          order_md5
        FROM h JOIN t USING (g) ORDER BY host"""),
      (s, d) => {
        import s.implicits._
        import graft.text.Urls
        val docs = table(s, d, "documents")
        // the SHARED q216 synth with one planted trap per doc
        // injected through the extras seam (review-r12: no hand-
        // synced copy — the schedule-equality claim is structural)
        val cand = frontierPages(s, docs, id => Seq((id % 3) match {
          case 0 => s"http://ex${id % 97}.test/a/a/a/t$id"
          case 1 => s"http://ex${id % 97}.test/t$id?f=1&f=2&f=3&f=4"
          case _ => s"http://ex${id % 97}.test/2024/01/2024/02/t$id"
        }))
          .as[(String, String, String)]
          .map { case (h, u, pq) =>
            (h, u, pq, Urls.trapReasons(u).exists(_.nonEmpty))
          }
          .toDF("host", "url", "path_q", "trapped")
        val trapCounts = cand.filter(col("trapped"))
          .groupBy("host").agg(count(lit(1)).as("n_trapped"))
        politenessRollup(robotsGate(s,
          cand.filter(!col("trapped")).drop("trapped"),
          hostRobots(s, docs)))
          .join(trapCounts, Seq("host"), "left_outer")
          .select(col("host"), col("n_urls"),
            coalesce(col("n_trapped"), lit(0L)).as("n_trapped"),
            col("delay_s"), col("makespan_s"), col("order_md5"))
          .orderBy("host")
      }),

    Q("q248_charset_sniff",
      "WHATWG encoding SNIFFING (T157, Charsets.sniffDecode — the " +
        "full precedence chain T119 lacked: BOM ≻ transport label ≻ " +
        "the HTML5 §13.2.3.2 meta PRESCAN ≻ flagged UTF-8 fallback; " +
        "real pages declare their charset ONLY in <meta> all the " +
        "time, and a pipeline without the prescan mojibakes them): " +
        "per doc, one of six wire shapes — a BOM beating a LYING " +
        "transport label and meta; transport beating a lying meta; " +
        "meta charset= used when transport is absent; the only meta " +
        "inside a comment (decoy → flagged fallback); a meta " +
        "declaring UTF-16 (the spec quirk: an ASCII-readable meta " +
        "means the document is NOT UTF-16 → utf-8); the http-equiv " +
        "content-type form with label aliasing (iso-8859-1 → " +
        "windows-1252, the WHATWG rule) — each carrying payload " +
        "bytes that decode DIFFERENTLY per encoding (0x93/0x94/0x80: " +
        "cp1252 smart quotes + € vs three U+FFFD), so one wrong " +
        "precedence hop flips the md5 AND the replacement count. " +
        "Zero shuffle; the sniff rides the T119 decode's narrow map",
      Some("""WITH v AS (SELECT doc_id, doc_id % 6 AS g,
            '“pay' || CAST(doc_id AS VARCHAR) || '” €'
              AS cp,
            '�pay' || CAST(doc_id AS VARCHAR) ||
              '� �' AS u8
          FROM documents)
        SELECT doc_id,
          CASE g WHEN 0 THEN 'bom' WHEN 1 THEN 'transport'
            WHEN 3 THEN 'default' ELSE 'meta' END AS source,
          CASE WHEN g IN (0, 3, 4) THEN 'utf-8'
            ELSE 'windows-1252' END AS used,
          CAST(CASE WHEN g = 3 THEN 1 ELSE 0 END AS BIGINT)
            AS fell_back,
          CAST(CASE WHEN g IN (0, 3, 4) THEN 3 ELSE 0 END AS BIGINT)
            AS n_repl,
          md5(CASE g
            WHEN 0 THEN '<meta charset="windows-1252"><p>' || u8
            WHEN 1 THEN '<meta charset="utf-8"><p>' || cp
            WHEN 2 THEN '<meta charset="windows-1252"><p>' || cp
            WHEN 3 THEN
              '<!-- <meta charset="windows-1252"> --><p>' || u8
            WHEN 4 THEN '<meta charset="UTF-16LE"><p>' || u8
            ELSE '<meta http-equiv="content-type" ' ||
              'content="text/html; charset=iso-8859-1"><p>' || cp
          END) AS text_md5
        FROM v ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Charsets
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val g = (id % 6).toInt
            val head = g match {
              case 0 | 2 => "<meta charset=\"windows-1252\"><p>"
              case 1 => "<meta charset=\"utf-8\"><p>"
              case 3 => "<!-- <meta charset=\"windows-1252\"> --><p>"
              case 4 => "<meta charset=\"UTF-16LE\"><p>"
              case _ => "<meta http-equiv=\"content-type\" " +
                "content=\"text/html; charset=iso-8859-1\"><p>"
            }
            // 0x93 0x94 0x80: cp1252 “ ” € — three U+FFFD under utf-8
            val payload = Array[Byte](0x93.toByte) ++
              s"pay$id".getBytes("US-ASCII") ++
              Array[Byte](0x94.toByte, ' ', 0x80.toByte)
            val body = head.getBytes("ISO-8859-1") ++ payload
            val bytes =
              if (g == 0) Array[Byte](0xef.toByte, 0xbb.toByte,
                0xbf.toByte) ++ body
              else body
            val transport = g match {
              case 0 | 1 => Some("windows-1252") // v0's label LIES
              case _ => None
            }
            val sn = Charsets.sniffDecode(bytes, transport)
            (id, sn.source, sn.decoded.used,
              if (sn.decoded.fellBack) 1L else 0L,
              sn.decoded.nReplacements,
              Common.md5Hex(sn.decoded.text.getBytes("UTF-8")))
          }
          .toDF("doc_id", "source", "used", "fell_back", "n_repl",
            "text_md5")
          .orderBy("doc_id")
      }),

    Q("q249_robots_cache_refresh",
      "robots-rules CACHE refresh (T158 — the freshness loop the " +
        "per-host rules dimension needs: T121 parses once per host, " +
        "but rules AGE; this composes T140's RFC 9111 decision with " +
        "T149's fetch policy and the 'cached' branch round 12 added " +
        "to fetchRobots): per HOST, the cached robots entry carries " +
        "its validators (ETag, entry age) and the original response's " +
        "Cache-Control max-age=1000; FRESH entries skip the fetch " +
        "entirely (age < lifetime — the fetch the cluster never " +
        "pays); stale entries run a REAL conditional GET — a 304 " +
        "maps through fetchRobots to 'cached' (the round-12 fix: the " +
        "old catch-all read it as allow_all and silently dropped the " +
        "host's restrictions) and the cached rules stand; a changed " +
        "origin answers 200 with TIGHTENED rules (new crawl-delay, a " +
        "new /pub2/ disallow) that re-parse through the real parser " +
        "and flip the probe verdicts. Every action, delay, and " +
        "verdict closed-form per host residue. Per-host work, zero " +
        "shuffle beside the 97-row host map",
      Some("""WITH h AS (SELECT DISTINCT doc_id % 97 AS g
            FROM documents),
          v AS (SELECT g, (g % 7) * 400 AS age,
            g % 4 = 0 AS changed FROM h)
        SELECT 'ex' || CAST(g AS VARCHAR) || '.test' AS host,
          CASE WHEN age < 1000 THEN 'fresh'
            WHEN changed THEN 'refreshed' ELSE 'revalidated' END
            AS action,
          CAST(CASE WHEN age >= 1000 AND changed THEN 2 + g % 5
            ELSE 1 + g % 5 END AS BIGINT) AS delay_s,
          CAST(0 AS BIGINT) AS priv_ok,
          CAST(CASE WHEN age >= 1000 AND changed THEN 0 ELSE 1 END
            AS BIGINT) AS pub2_ok,
          CASE WHEN age >= 1000 AND changed
            THEN '"n' || CAST(g AS VARCHAR) || '"'
            ELSE '"r' || CAST(g % 13 AS VARCHAR) || '"' END AS etag
        FROM v ORDER BY host"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{Http, Redirects, Revisit}
        import graft.text.Robots
        table(s, d, "documents")
          .select((col("doc_id") % 97).as("g")).distinct().as[Long]
          .map { g =>
            val host = s"ex$g.test"
            val ru = s"http://$host/robots.txt"
            val cachedEtag = "\"r" + (g % 13) + "\""
            val cachedBody = robotsBody(g)
            val age = (g % 7) * 400
            // the decision runs off the CACHED response's own headers
            // (the T140 production path — the frontier stores them
            // with the rules)
            val cachedResp = Http.render(200, "OK",
              Seq("Content-Type" -> "text/plain",
                "Cache-Control" -> "max-age=1000",
                "ETag" -> cachedEtag),
              cachedBody.getBytes("UTF-8"))
            val decision = Revisit.decideFromResponse(cachedResp, age).get
            val changed = g % 4 == 0
            val newEtag = "\"n" + g + "\""
            val newBody = "User-agent: *\nDisallow: /private/\n" +
              s"Disallow: /pub2/\nCrawl-delay: ${2 + g % 5}\n"
            // the origin: 304 when If-None-Match matches its current
            // entity, else 200 with the (possibly tightened) rules
            def origin(inm: String): Map[String, Array[Byte]] = {
              val cur = if (changed) newEtag else cachedEtag
              val resp =
                if (inm == cur)
                  Http.render(304, "Not Modified",
                    Seq("ETag" -> cur), Array.empty[Byte])
                else Http.render(200, "OK",
                  Seq("Content-Type" -> "text/plain", "ETag" -> cur),
                  (if (changed) newBody else cachedBody)
                    .getBytes("UTF-8"))
              Map(ru -> resp)
            }
            val (action, rulesText, etag) =
              if (decision.action == "skip")
                ("fresh", cachedBody, cachedEtag)
              else {
                // conditional GET with the ledger's validator through
                // the REAL fetch policy (T149 + the round-12 branch)
                val store = origin(cachedEtag)
                Redirects.fetchRobots(ru, store.get) match {
                  case ("cached", _) =>
                    ("revalidated", cachedBody, cachedEtag)
                  case ("rules", Some(bytes)) =>
                    ("refreshed", new String(bytes, "UTF-8"), newEtag)
                  case other =>
                    (s"unexpected_${other._1}", cachedBody, cachedEtag)
                }
              }
            val robots = Robots.parse(rulesText)
            val delay = Robots.group(robots, "graftbot")
              .flatMap(_.crawlDelay).getOrElse(0L)
            (host, action, delay,
              if (Robots.isAllowed(robots, "graftbot",
                s"/private/$g")) 1L else 0L,
              if (Robots.isAllowed(robots, "graftbot",
                s"/pub2/$g")) 1L else 0L,
              etag)
          }
          .toDF("host", "action", "delay_s", "priv_ok", "pub2_ok",
            "etag")
          .orderBy("host")
      }),

    Q("q250_wet_conversion",
      "WET conversion-record derivation (T159 — the Common Crawl " +
        "shape that makes the T142 write path OPERATIONAL: CC ships " +
        "extracted text as WARC 'conversion' records whose " +
        "WARC-Refers-To names the source response record): per doc, " +
        "a response record is written (T142), its HTML payload " +
        "extracts through T118, and the text is written BACK as a " +
        "conversion record — type conversion, text/plain, " +
        "Refers-To = the source's generated Record-ID — then the " +
        "derived record re-parses (T115) and THREE inverses verify: " +
        "the Refers-To header equals the source id, the block " +
        "digest re-derives from the parsed body, and the text " +
        "round-trips byte-exactly (oracle md5 over the closed-form " +
        "extraction). One byte off anywhere in write → extract → " +
        "write → parse breaks a column. Zero shuffle; both records " +
        "live and die inside one task",
      Some("""WITH p AS (SELECT doc_id, doc_id % 3 + 2 AS k
          FROM documents),
        c AS (SELECT p.doc_id, p.k,
            string_agg(
              'paragraph w' || CAST(p.doc_id AS VARCHAR) || 'p' ||
                CAST(j.j AS VARCHAR) ||
                ' of the conversion corpus text',
              chr(10) ORDER BY j.j) AS text
          FROM p, range(0, 5) j(j) WHERE j.j < p.k
          GROUP BY p.doc_id, p.k)
        SELECT doc_id,
          'conversion' AS conv_type,
          CAST(1 AS BIGINT) AS refers_ok,
          CAST(1 AS BIGINT) AS digest_ok,
          CAST(length(text) AS BIGINT) AS text_len,
          md5(text) AS text_md5
        FROM c ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{Html, Warc}
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val k = (id % 3 + 2).toInt
            val uri = s"http://ex${id % 97}.test/p$id"
            val paras = (0 until k).map(j =>
              s"paragraph w${id}p$j of the conversion corpus text")
            val html = "<html><body>" +
              paras.map(p => s"<p>$p</p>").mkString + "</body></html>"
            val response = Warc.write("response",
              "2026-01-01T00:00:00Z", html.getBytes("UTF-8"),
              targetUri = Some(uri), contentType = Some("text/html"))
            val srcId = Warc.parseSingle(response).get.recordId
            val text = Html.extractText(html).text
            val conv = Warc.write("conversion",
              "2026-01-01T00:00:00Z", text.getBytes("UTF-8"),
              targetUri = Some(uri), contentType = Some("text/plain"),
              extra = Seq("WARC-Refers-To" -> srcId))
            val (rec, body) = Warc.parseSingleWithBody(conv).get
            val refersOk =
              Warc.header(conv, "WARC-Refers-To").contains(srcId)
            val digestOk = Warc.header(conv, "WARC-Block-Digest")
              .contains(Warc.blockDigest(body))
            val roundText = new String(body, "UTF-8")
            (id, rec.warcType,
              if (refersOk) 1L else 0L,
              if (digestOk) 1L else 0L,
              roundText.length.toLong,
              Common.md5Hex(body))
          }
          .toDF("doc_id", "conv_type", "refers_ok", "digest_ok",
            "text_len", "text_md5")
          .orderBy("doc_id")
      }),

    Q("q251_backoff_schedule",
      "Retry-After-aware scheduling (T160 — T144's surfaced backoff " +
        "made OPERATIONAL in the politeness plan: q235 extracts " +
        "Retry-After but nothing fed it into a queue): per host, the " +
        "last fetch outcome — 200 ok / 429 with delta-seconds " +
        "Retry-After / 503 with the HTTP-DATE form (value minus the " +
        "response's Date, RFC 9110 §10.2.3 — both legal forms " +
        "exercised through the REAL follower and date parser) / 503 " +
        "with no header — pushes the host's queue start out by the " +
        "demanded backoff: makespan = backoff + (n−1)·delay. One " +
        "mis-parsed date form or a backoff leaking onto the wrong " +
        "host flips a makespan. Host-sized work beside the one " +
        "mass rollup the frontier already pays",
      Some("""WITH m AS (SELECT doc_id % 97 AS g,
            CAST(SUM(doc_id % 3 + 1) AS BIGINT) AS np
          FROM documents GROUP BY 1)
        SELECT 'ex' || CAST(g AS VARCHAR) || '.test' AS host,
          CASE WHEN g % 4 = 0 THEN 'ok' ELSE 'retry' END AS outcome,
          CAST(CASE g % 4 WHEN 1 THEN 60 WHEN 2 THEN 120 ELSE 0 END
            AS BIGINT) AS backoff_s,
          np AS n_urls,
          CAST(1 + g % 5 AS BIGINT) AS delay_s,
          CAST(CASE g % 4 WHEN 1 THEN 60 WHEN 2 THEN 120 ELSE 0 END +
            (np - 1) * (1 + g % 5) AS BIGINT) AS makespan_s
        FROM m ORDER BY host"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{Http, Redirects}
        table(s, d, "documents")
          .groupBy((col("doc_id") % 97).as("g"))
          .agg(sum(col("doc_id") % 3 + 1).as("np"))
          .as[(Long, Long)]
          .map { case (g, np) =>
            val host = s"ex$g.test"
            val u = s"http://$host/u"
            val resp = (g % 4) match {
              case 0 => Http.render(200, "OK", Nil,
                "page".getBytes("UTF-8"))
              case 1 => Http.render(429, "Too Many Requests",
                Seq("Retry-After" -> "60"), Array.empty[Byte])
              case 2 => Http.render(503, "Service Unavailable",
                Seq("Retry-After" -> "Tue, 14 Nov 2023 22:15:20 GMT",
                  "Date" -> "Tue, 14 Nov 2023 22:13:20 GMT"),
                Array.empty[Byte])
              case _ => Http.render(503, "Service Unavailable", Nil,
                Array.empty[Byte])
            }
            val o = Redirects.follow(u, Map(u -> resp).get)
            val backoff = o.backoffS.getOrElse(0L)
            val delay = 1 + g % 5
            (host, o.status, backoff, np, delay,
              backoff + (np - 1) * delay)
          }
          .toDF("host", "outcome", "backoff_s", "n_urls", "delay_s",
            "makespan_s")
          .orderBy("host")
      }),

    Q("q252_discovery_capstone",
      "the frontier DISCOVERY capstone (T161 — the third capstone " +
        "beside q226's ingest and q246's decision chains): per HOST, " +
        "the complete discovery pipeline composed from the " +
        "production operators — the real robots parse surfaces the " +
        "Sitemap: line (T121), the T152 tree walk follows the " +
        "sitemap INDEX through a relative child loc to two urlsets, " +
        "every discovered loc canonicalizes (T120), the T153 trap " +
        "gate drops a planted /a/a/a/ trap, the T121 rule evaluation " +
        "drops a planted /private/ loc, and the survivors roll up " +
        "into the politeness schedule (count, parsed crawl-delay, " +
        "makespan, queue md5). One lost entry, one leaked trap or " +
        "private loc, or one mis-resolved child sitemap hash-fails " +
        "the queue. Per-host work on one narrow 97-row map — at " +
        "100 TB discovery is amortized per host exactly like robots",
      Some("""WITH h AS (SELECT DISTINCT doc_id % 97 AS g
            FROM documents),
          u AS (
            SELECT g, 'http://ex' || CAST(g AS VARCHAR) || '.test/s' ||
                CAST(g AS VARCHAR) || '/p' || CAST(j.j AS VARCHAR)
                AS loc
              FROM h, range(0, 3) j(j) WHERE j.j <= g % 3
            UNION ALL
            SELECT g, 'http://ex' || CAST(g AS VARCHAR) || '.test/s' ||
                CAST(g AS VARCHAR) || '/q' || CAST(j.j AS VARCHAR)
              FROM h, range(0, 2) j(j)),
          agg AS (SELECT g,
              CAST(COUNT(*) AS BIGINT) AS n_frontier,
              md5(string_agg(loc, ',' ORDER BY loc)) AS order_md5
            FROM u GROUP BY g)
        SELECT 'ex' || CAST(g AS VARCHAR) || '.test' AS host,
          CAST(3 AS BIGINT) AS n_sitemaps,
          CAST(g % 3 + 5 AS BIGINT) AS n_discovered,
          CAST(1 AS BIGINT) AS n_trapped,
          CAST(1 AS BIGINT) AS n_blocked,
          n_frontier,
          CAST(1 + g % 5 AS BIGINT) AS delay_s,
          CAST((n_frontier - 1) * (1 + g % 5) AS BIGINT) AS makespan_s,
          order_md5
        FROM agg ORDER BY host"""),
      (s, d) => {
        import s.implicits._
        import graft.text.{Robots, Sitemap, Urls}
        table(s, d, "documents")
          .select((col("doc_id") % 97).as("g")).distinct().as[Long]
          .map { g =>
            val host = s"ex$g.test"
            val robots = Robots.parse(robotsBody(g) +
              s"Sitemap: http://$host/sitemap.xml\n")
            val smUrl = robots.sitemaps.head
            val store = Map(
              smUrl -> sitemapIndex(Seq("/sm/a.xml", // relative child
                s"http://$host/sm/b.xml")),
              s"http://$host/sm/a.xml" -> sitemapUrlset(
                (0 to (g % 3).toInt).map(j =>
                  s"http://$host/s$g/p$j") :+
                  s"http://$host/a/a/a/t$g"), // the planted trap
              s"http://$host/sm/b.xml" -> sitemapUrlset(Seq(
                s"http://$host/s$g/q0", s"http://$host/s$g/q1",
                s"http://$host/private/s$g"))) // robots must drop
            val tree = Sitemap.crawlTree(smUrl, store.get)
            val locs = tree.entries.map(_.loc)
              .flatMap(Urls.canonicalize)
            val (trapped, rest) = locs.partition(u =>
              Urls.trapReasons(u).exists(_.nonEmpty))
            val grp = Robots.group(robots, "graftbot")
            val rules = grp.map(_.rules).getOrElse(Seq.empty)
            val delay = grp.flatMap(_.crawlDelay).getOrElse(0L)
            val (kept, blocked) = rest.partition { u =>
              Urls.parse(u).exists(p => Robots.evalRules(rules,
                p.path + p.query.map("?" + _).getOrElse("")))
            }
            val sorted = kept.sorted
            (host, tree.nVisited.toLong, locs.length.toLong,
              trapped.length.toLong, blocked.length.toLong,
              kept.length.toLong, delay,
              (kept.length - 1) * delay,
              Common.md5Hex(sorted.mkString(",").getBytes("UTF-8")))
          }
          .toDF("host", "n_sitemaps", "n_discovered", "n_trapped",
            "n_blocked", "n_frontier", "delay_s", "makespan_s",
            "order_md5")
          .orderBy("host")
      }),

    Q("q253_warc_revisit",
      "WARC revisit records — at-crawl-time archive dedup (T163, " +
        "VERDICT-r12 item 2: q245 detects unchanged content and " +
        "q233/q250 own the writer, but archives re-stored unchanged " +
        "payloads): per URL, m timed re-fetches run as real GETs " +
        "(Http.render/parse); a fetch whose payload digest matches " +
        "the digest ledger writes a BODY-LESS revisit record in the " +
        "identical-payload-digest profile (WARC-Refers-To the " +
        "original response's Record-ID, WARC-Payload-Digest, " +
        "zero-length block — the Common Crawl at-crawl-time dedup " +
        "shape), a changed payload writes a fresh response record. " +
        "The rebuilt archive walks back through T104 + T115 and " +
        "FOUR inverses verify: n_response + n_revisit = n_fetches, " +
        "every revisit's Refers-To resolves to an EARLIER response " +
        "whose Payload-Digest equals the revisit's, every revisit " +
        "block is zero-length, and every response's digest headers " +
        "re-derive from its parsed block. bytes_archived vs " +
        "bytes_fetched pins the saving closed-form. Zero shuffle — " +
        "each URL's fetch history lives and dies in one task",
      Some("""WITH p AS (SELECT doc_id, doc_id % 3 + 3 AS m,
            doc_id % 2 = 1 AS changed,
            1 + doc_id % (doc_id % 3 + 2) AS c
          FROM documents),
        f AS (SELECT p.doc_id, p.m, p.changed, p.c, j.j,
            CASE WHEN p.changed AND j.j >= p.c THEN 1 ELSE 0 END AS rev
          FROM p, range(0, 5) j(j) WHERE j.j < p.m),
        e AS (SELECT doc_id, m, j, rev,
            CASE WHEN j = 0 OR (changed AND j = c)
              THEN 'response' ELSE 'revisit' END AS typ,
            length('content of u' || CAST(doc_id AS VARCHAR) ||
              ' rev ' || CAST(rev AS VARCHAR)) AS blen
          FROM f)
        SELECT doc_id,
          CAST(m AS BIGINT) AS n_fetches,
          CAST(SUM(CASE WHEN typ = 'response' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_response,
          CAST(SUM(CASE WHEN typ = 'revisit' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_revisit,
          CAST(1 AS BIGINT) AS refers_ok,
          CAST(1 AS BIGINT) AS empty_ok,
          CAST(1 AS BIGINT) AS digest_ok,
          CAST(SUM(blen) AS BIGINT) AS bytes_fetched,
          CAST(SUM(CASE WHEN typ = 'response' THEN blen ELSE 0 END)
            AS BIGINT) AS bytes_archived,
          CAST(SUM(CASE WHEN typ = 'revisit' THEN blen ELSE 0 END)
            AS BIGINT) AS bytes_saved,
          string_agg(typ, ',' ORDER BY j) AS types
        FROM e GROUP BY doc_id, m ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{Compressed, Http, Warc}
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val m = (id % 3 + 3).toInt
            val changed = id % 2 == 1
            val c = (1 + id % (id % 3 + 2)).toInt
            val uri = s"http://ex${id % 97}.test/u$id"
            // the digest ledger: payload digest → original Record-ID
            val ledger =
              scala.collection.mutable.Map.empty[String, String]
            val bos = new java.io.ByteArrayOutputStream()
            var bytesFetched = 0L
            (0 until m).foreach { j =>
              val rev = if (changed && j >= c) 1 else 0
              val body = s"content of u$id rev $rev".getBytes("UTF-8")
              // a REAL full GET each visit (the identical-payload-
              // digest profile dedups 200s by digest — it needs no
              // validator cooperation from the origin, which is why
              // Common Crawl can run it against the open web)
              val wire = Http.render(200, "OK",
                Seq("Content-Type" -> "text/plain"), body)
              val (_, payload) = Http.parseResponseWithBody(wire).get
              bytesFetched += payload.length
              val digest = Warc.blockDigest(payload)
              val date = s"2026-01-0${j + 1}T00:00:00Z"
              val rec = ledger.get(digest) match {
                case Some(origId) => // unchanged: body-less revisit
                  Warc.write("revisit", date, Array.empty[Byte],
                    targetUri = Some(uri),
                    extra = Seq(
                      "WARC-Profile" -> ("http://netpreserve.org/" +
                        "warc/1.0/revisit/identical-payload-digest"),
                      "WARC-Refers-To" -> origId,
                      "WARC-Payload-Digest" -> digest))
                case None => // new payload: full response record
                  val r = Warc.write("response", date, wire,
                    targetUri = Some(uri),
                    contentType = Some("application/http"),
                    extra = Seq("WARC-Payload-Digest" -> digest))
                  ledger(digest) = Warc.parseSingle(r).get.recordId
                  r
              }
              bos.write(Compressed.gzipMember(rec, None))
            }
            // walk the archive back and verify the four inverses
            val walked = Compressed.memberPayloads(bos.toByteArray)
              .getOrElse(Seq.empty)
              .flatMap { case (_, p) =>
                Warc.parseSingleWithBody(p).map { case (r, b) =>
                  (r, b, Warc.header(p, "WARC-Refers-To"),
                    Warc.header(p, "WARC-Payload-Digest"),
                    Warc.header(p, "WARC-Block-Digest"))
                }
              }
            val types = walked.map(_._1.warcType)
            // responses seen so far while scanning in archive order:
            // Record-ID → the Payload-Digest header it was stored with
            val seen = scala.collection.mutable.Map.empty[String, String]
            var refersOk = true
            var emptyOk = true
            var digestOk = true
            var archived = 0L
            walked.foreach { case (r, b, refersTo, payDig, blockDig) =>
              if (r.warcType == "response") {
                // both digest headers re-derive from the parsed block
                val pay = Http.parseResponseWithBody(b).get._2
                if (!payDig.contains(Warc.blockDigest(pay)) ||
                    !blockDig.contains(Warc.blockDigest(b)))
                  digestOk = false
                archived += pay.length
                seen(r.recordId) = payDig.getOrElse("")
              } else {
                if (r.contentLength != 0L) emptyOk = false
                // Refers-To resolves to an EARLIER response whose
                // stored payload digest equals this revisit's
                val resolved = refersTo.flatMap(seen.get)
                if (resolved.isEmpty || resolved != payDig)
                  refersOk = false
              }
            }
            // the saving: payload bytes the revisits did NOT re-store
            val saved = bytesFetched - archived
            (id, m.toLong,
              types.count(_ == "response").toLong,
              types.count(_ == "revisit").toLong,
              if (refersOk) 1L else 0L,
              if (emptyOk) 1L else 0L,
              if (digestOk) 1L else 0L,
              bytesFetched, archived, saved,
              types.mkString(","))
          }
          .toDF("doc_id", "n_fetches", "n_response", "n_revisit",
            "refers_ok", "empty_ok", "digest_ok", "bytes_fetched",
            "bytes_archived", "bytes_saved", "types")
          .orderBy("doc_id")
      }),

    Q("q254_cdx_lookup",
      "CDX index + SURT point lookup (T164/T165, VERDICT-r12 item 3 " +
        "— random access into the archive tier, the way every real " +
        "WARC consumer reads): per doc, a multi-record archive is " +
        "written member-per-record with Cdx.writeIndexed capturing " +
        "(surt, ts, offset, length, digest) per record, the index " +
        "sorted in SURT order; then ONE record is looked up by a " +
        "surt key computed from a DIFFERENT spelling of its URL " +
        "(uppercase + www + trailing slash + unsorted query vs " +
        "bare lowercase — the canonicalization IS the join key), " +
        "read by seeking exactly the indexed window (Cdx.readAt " +
        "verifies one-clean-member + Block-Digest), with the " +
        "bytes-read witness proving the lookup touched one member, " +
        "not the archive. The index is also checked to PARTITION the " +
        "archive (offsets/lengths tile it exactly) and to sort by " +
        "key. Every output column closed-form in doc_id; one " +
        "mis-canonicalized key, misaligned offset or digest slip " +
        "zeroes a flag. Archive bytes never shuffle",
      Some("""SELECT doc_id,
          CAST(doc_id % 3 + 2 AS BIGINT) AS n_records,
          'test,ex' || CAST(doc_id % 97 AS VARCHAR) || ')/p' ||
            CAST(doc_id AS VARCHAR) || '/' ||
            CAST(doc_id % (doc_id % 3 + 2) AS VARCHAR) ||
            '?a=1&b=2' AS surt_key,
          CAST(1 AS BIGINT) AS found,
          CAST(1 AS BIGINT) AS uri_ok,
          CAST(1 AS BIGINT) AS single_ok,
          CAST(1 AS BIGINT) AS sorted_ok,
          CAST(1 AS BIGINT) AS tiles_ok,
          md5('page ' || CAST(doc_id AS VARCHAR) || ' ' ||
            CAST(doc_id % (doc_id % 3 + 2) AS VARCHAR)) AS payload_md5
        FROM documents ORDER BY doc_id"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{Cdx, Warc}
        import graft.text.Urls
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val k = (id % 3 + 2).toInt
            val g = id % 97
            // written under the MESSY spelling
            val recs = (0 until k).map { j =>
              Warc.write("response", f"2026-01-${j + 1}%02dT00:00:00Z",
                s"page $id $j".getBytes("UTF-8"),
                targetUri =
                  Some(s"HTTP://WWW.Ex$g.TEST/P$id/$j/?b=2&a=1"),
                contentType = Some("text/plain"))
            }
            val (archive, idx) = Cdx.writeIndexed(recs)
            val sortedOk = idx.map(e => (e.surt, e.ts)) ==
              idx.map(e => (e.surt, e.ts)).sorted
            val tilesOk = idx.sortBy(_.offset)
              .foldLeft(Option(0L)) { (acc, e) =>
                acc.filter(_ == e.offset).map(_ + e.length)
              }.contains(archive.length.toLong)
            // looked up under the BARE spelling
            val target = id % k
            val key = Urls.surt(
              s"http://ex$g.test/p$id/$target?a=1&b=2").get
            val hit = idx.find(_.surt == key)
            val read = hit.flatMap(e =>
              Cdx.readAt(archive, e.offset, e.length))
            val uriOk = read.exists(_._1.targetUri
              .contains(s"HTTP://WWW.Ex$g.TEST/P$id/$target/?b=2&a=1"))
            val singleOk = (hit, read) match {
              case (Some(e), Some((_, _, bytesRead))) =>
                bytesRead == e.length &&
                  bytesRead < archive.length.toLong
              case _ => false
            }
            (id, k.toLong, key,
              if (read.isDefined) 1L else 0L,
              if (uriOk) 1L else 0L,
              if (singleOk) 1L else 0L,
              if (sortedOk) 1L else 0L,
              if (tilesOk) 1L else 0L,
              read.map(r => Common.md5Hex(r._2)).getOrElse("-"))
          }
          .toDF("doc_id", "n_records", "surt_key", "found", "uri_ok",
            "single_ok", "sorted_ok", "tiles_ok", "payload_md5")
          .orderBy("doc_id")
      }),

    Q("q255_freshness_ledger",
      "the closed freshness loop: sitemap lastmod × fetch ledger → " +
        "due list → politeness schedule (T166, VERDICT-r12 item 4 — " +
        "q224 computes due-ness from sitemap metadata ALONE and " +
        "q239 holds per-URL fetch state, but the actual recrawl " +
        "trigger is their JOIN): per host, a real sitemap parses " +
        "(T122) into (url, lastmod_day, changefreq interval) and " +
        "joins the ledger's last-success day on URL — refetch iff " +
        "the content changed since the last fetch (lastmod_day > " +
        "last_fetch_day) OR the changefreq interval has elapsed " +
        "SINCE THE LAST FETCH (ref_day − last_fetch_day ≥ interval; " +
        "q224 aged against lastmod, which over-fetches pages that " +
        "were crawled after their last edit); the due list rolls " +
        "into the T125 schedule (count, makespan, queue md5). Ref " +
        "day is a parameter (20000), never a clock. One URL wrongly " +
        "due or wrongly skipped flips a count and the queue md5. " +
        "Scale shape: ONE url-keyed equi-join (sitemap store × " +
        "ledger, both url-partitioned at 100 TB) + the host-keyed " +
        "rollup the frontier already pays; no text moves",
      Some("""WITH h AS (SELECT DISTINCT doc_id % 97 AS g
            FROM documents),
        u AS (SELECT g, j.j,
            'http://ex' || CAST(g AS VARCHAR) || '.test/f' ||
              CAST(j.j AS VARCHAR) AS url,
            19700 + (g * 7 + j.j * 11) % 320 AS lastmod_day,
            CASE j.j % 4 WHEN 0 THEN 1 WHEN 1 THEN 7 WHEN 2 THEN 30
              ELSE -1 END AS ival,
            19955 + (g * 5 + j.j * 13) % 45 AS last_fetch_day
          FROM h, range(0, 4) j(j) WHERE j.j < g % 3 + 2),
        v AS (SELECT g, url,
            CASE WHEN lastmod_day > last_fetch_day THEN 1 ELSE 0 END
              AS changed,
            CASE WHEN lastmod_day <= last_fetch_day AND ival > 0
              AND 20000 - last_fetch_day >= ival THEN 1 ELSE 0 END
              AS elapsed
          FROM u)
        SELECT 'ex' || CAST(g AS VARCHAR) || '.test' AS host,
          CAST(COUNT(*) AS BIGINT) AS n_urls,
          CAST(SUM(changed) AS BIGINT) AS n_changed,
          CAST(SUM(elapsed) AS BIGINT) AS n_elapsed,
          CAST(SUM(changed + elapsed) AS BIGINT) AS n_due,
          CAST(1 + g % 5 AS BIGINT) AS delay_s,
          CAST(CASE WHEN SUM(changed + elapsed) > 0
            THEN (SUM(changed + elapsed) - 1) * (1 + g % 5)
            ELSE 0 END AS BIGINT) AS makespan_s,
          md5(COALESCE(string_agg(CASE WHEN changed + elapsed > 0
            THEN url END, ',' ORDER BY url), '')) AS queue_md5
        FROM v GROUP BY g ORDER BY host"""),
      (s, d) => {
        import s.implicits._
        import graft.text.Sitemap
        val refDay = 20000L // parameter, never a clock
        val hosts = table(s, d, "documents")
          .select((col("doc_id") % 97).as("g")).distinct().as[Long]
        // the sitemap store side: real XML through the T122 parser
        val sitemap = hosts.flatMap { g =>
          val n = (g % 3 + 2).toInt
          val freqs = Seq("daily", "weekly", "monthly", "never")
          val xml = "<?xml version=\"1.0\"?>\n<urlset>\n" +
            (0 until n).map { j =>
              val day = 19700 + (g * 7 + j * 11) % 320
              val date = java.time.LocalDate.ofEpochDay(day)
              s"  <url><loc>http://ex$g.test/f$j</loc>" +
                s"<lastmod>$date</lastmod>" +
                s"<changefreq>${freqs(j % 4)}</changefreq></url>"
            }.mkString("\n") + "\n</urlset>"
          Sitemap.parse(xml).entries.map { e =>
            val ival = e.changefreq match {
              case Some("always") | Some("hourly") | Some("daily") => 1L
              case Some("weekly") => 7L
              case Some("monthly") => 30L
              case Some("yearly") => 365L
              case _ => -1L
            }
            (g, e.loc, e.lastmodEpochDay.getOrElse(-1L), ival)
          }
        }.toDF("g", "url", "lastmod_day", "ival")
        // the drained-ledger side (the q239 shape: one row per URL,
        // last successful fetch day)
        val ledger = hosts.flatMap { g =>
          (0 until (g % 3 + 2).toInt).map { j =>
            (s"http://ex$g.test/f$j",
              19955 + (g * 5 + j * 13) % 45)
          }
        }.toDF("url", "last_fetch_day")
        // THE composition: one url-keyed equi-join, then the verdict
        val v = sitemap.join(ledger, Seq("url"))
          .withColumn("changed",
            (col("lastmod_day") > col("last_fetch_day")).cast("long"))
          .withColumn("elapsed",
            (col("lastmod_day") <= col("last_fetch_day") &&
              col("ival") > 0 &&
              lit(refDay) - col("last_fetch_day") >= col("ival"))
              .cast("long"))
        v.groupBy("g").agg(
            count(lit(1)).as("n_urls"),
            sum("changed").as("n_changed"),
            sum("elapsed").as("n_elapsed"),
            sum(col("changed") + col("elapsed")).as("n_due"),
            md5(concat_ws(",", sort_array(collect_list(
              when(col("changed") + col("elapsed") > 0, col("url"))))))
              .as("queue_md5"))
          .select(
            concat(lit("ex"), col("g"), lit(".test")).as("host"),
            col("n_urls"), col("n_changed"), col("n_elapsed"),
            col("n_due"),
            (lit(1) + col("g") % 5).cast("long").as("delay_s"),
            when(col("n_due") > 0,
              (col("n_due") - 1) * (lit(1) + col("g") % 5))
              .otherwise(0L).cast("long").as("makespan_s"),
            col("queue_md5"))
          .orderBy("host")
      }),

    Q("q256_concurrent_schedule",
      "politeness schedule under k connections per host (T125 made " +
        "production-true, VERDICT-r12 item 5: every schedule so far " +
        "modeled a SERIAL per-host queue, but production frontiers " +
        "run k connections per host): the q216 gate chain (T120 " +
        "canonicalization, the per-host parsed-rules robots gate) " +
        "rolls up through the SAME politenessRollup API at k=1 and " +
        "k=3 — makespan = ceil((n−1)/k)·delay, exact integer " +
        "ceil-div, k=1 reproducing the serial (n−1)·delay " +
        "bit-for-bit (the q216 oracle still pins the default-k " +
        "path) — then composes the q251 Retry-After backoff through " +
        "the REAL follower: final start-to-last-fetch span = " +
        "backoff + makespan on either concurrency. Both k columns " +
        "closed-form; one ceil boundary off (n−1 divisible by k vs " +
        "not) flips a makespan. Same ONE host-keyed shuffle; the " +
        "gated frame is localCheckpoint'd so robots still parse " +
        "once per host across both rollups",
      Some("""WITH u AS (
          SELECT doc_id % 97 AS g FROM documents,
            range(0, 3) j(j) WHERE j.j < doc_id % 3 + 1),
        h AS (SELECT g, COUNT(*) AS n FROM u GROUP BY g)
        SELECT 'ex' || CAST(g AS VARCHAR) || '.test' AS host,
          CAST(n AS BIGINT) AS n_urls,
          CAST(1 + g % 5 AS BIGINT) AS delay_s,
          CAST(CASE g % 4 WHEN 1 THEN 60 WHEN 2 THEN 120 ELSE 0 END
            AS BIGINT) AS backoff_s,
          CAST(CASE g % 4 WHEN 1 THEN 60 WHEN 2 THEN 120 ELSE 0 END +
            (n - 1) * (1 + g % 5) AS BIGINT) AS makespan_serial,
          CAST(CASE g % 4 WHEN 1 THEN 60 WHEN 2 THEN 120 ELSE 0 END +
            ((n - 1 + 2) // 3) * (1 + g % 5) AS BIGINT) AS makespan_k3
        FROM h ORDER BY host"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.{Http, Redirects}
        val docs = table(s, d, "documents")
        val gated = robotsGate(s, frontierPages(s, docs),
          hostRobots(s, docs)).localCheckpoint()
        val k1 = politenessRollup(gated) // default k=1: the q216 path
        val k3 = politenessRollup(gated, concurrency = 3)
          .select(col("host"), col("makespan_s").as("mk3"))
        k1.join(k3, Seq("host"))
          .select(col("host"), col("n_urls"), col("delay_s"),
            col("makespan_s").as("mk1"), col("mk3"))
          .as[(String, Long, Long, Long, Long)]
          .map { case (host, n, delay, mk1, mk3) =>
            // the q251 backoff through the real follower (both RFC
            // 9110 §10.2.3 Retry-After forms + the no-header 503)
            val g = host.stripPrefix("ex").stripSuffix(".test").toLong
            val u = s"http://$host/u"
            val resp = (g % 4) match {
              case 0 => Http.render(200, "OK", Nil,
                "page".getBytes("UTF-8"))
              case 1 => Http.render(429, "Too Many Requests",
                Seq("Retry-After" -> "60"), Array.empty[Byte])
              case 2 => Http.render(503, "Service Unavailable",
                Seq("Retry-After" -> "Tue, 14 Nov 2023 22:15:20 GMT",
                  "Date" -> "Tue, 14 Nov 2023 22:13:20 GMT"),
                Array.empty[Byte])
              case _ => Http.render(503, "Service Unavailable", Nil,
                Array.empty[Byte])
            }
            val backoff = Redirects.follow(u, Map(u -> resp).get)
              .backoffS.getOrElse(0L)
            (host, n, delay, backoff, backoff + mk1, backoff + mk3)
          }
          .toDF("host", "n_urls", "delay_s", "backoff_s",
            "makespan_serial", "makespan_k3")
          .orderBy("host")
      }),

    Q("q257_stream_decision_frontier",
      "STANDING decision frontier (T167, VERDICT-r12 stretch item 8 " +
        "— the streaming twin of the q246 capstone, and the natural " +
        "consumer of the round's LedgerStore): the corpus arrives in " +
        "three micro-batches; each batch's REAL link extraction " +
        "(T118+T129+T120 via hostLinks) and page mass merge into a " +
        "restart-safe host ledger (edge weights + per-host mass, " +
        "LedgerStore: versioned snapshot + atomic pointer per " +
        "batch), and the COMPLETE decision chain re-evaluates on the " +
        "grown graph — integer PageRank (rankFromEdges) → " +
        "largest-remainder apportionment → robots-fetch policy " +
        "through the real follower → schedule → revisit verdict " +
        "(the shared q246 builders, one definition two topologies). " +
        "The output IS the last micro-batch's standing decision " +
        "table, and it must hash-match q246's batch oracle EXACTLY " +
        "— drained ≡ batch, the q229 discipline, now for the whole " +
        "decision chain. Scale shape: per batch one narrow " +
        "extraction map + host-graph-sized state (hosts + edges " +
        "frames, ~300 rows here, host-bounded at 100 TB); payload " +
        "text never enters the ledger",
      Some(decisionCapstoneOracle),
      (s, d) => {
        import org.apache.spark.sql.DataFrame
        val docsT = table(s, d, "documents")
        // batch contribution → ledger rows (union schema: edge rows
        // keyed (src,dst), mass rows keyed by the host residue g)
        def toLedger(batch: DataFrame): DataFrame = {
          val e = hostLinks(s, batch)
            .groupBy(col("src_host").as("src"),
              col("dst_host").as("dst"))
            .agg(count(lit(1)).as("w"))
            .select(lit("e").as("kind"), col("src"), col("dst"),
              col("w"), lit(0L).as("np"), lit(0L).as("nd"))
          val m = batch
            .groupBy((col("doc_id") % 97).cast("string").as("src"))
            .agg(sum(col("doc_id") % 3 + 1).as("np"),
              count(lit(1)).as("nd"))
            .select(lit("m").as("kind"), col("src"),
              lit("").as("dst"), lit(0L).as("w"), col("np"),
              col("nd"))
          e.union(m)
        }
        def merge(a: DataFrame, b: DataFrame): DataFrame =
          a.union(b).groupBy("kind", "src", "dst").agg(
            sum("w").as("w"), sum("np").as("np"), sum("nd").as("nd"))
        // the standing re-evaluation: the SAME builders as q246,
        // fed from the accumulated ledger instead of the corpus
        def evaluate(ledger: DataFrame): DataFrame = {
          val edges = ledger.filter(col("kind") === "e")
            .select("src", "dst", "w")
          val massL = ledger.filter(col("kind") === "m")
            .select(col("src").cast("long").as("g"), col("np"),
              col("nd"))
          val nodes = massL.select(
            concat(lit("ex"), col("g"), lit(".test")).as("h"))
          decisionTable(
            apportion(rankFromEdges(edges, nodes), 100000L),
            hostDecisionDim(s, massL))
        }
        Common.withDrainShuffle(s) {
          // TWO micro-batches (round-15, VERDICT-r14 item 2 — was 4,
          // then 3 in r14): the standing-re-evaluation semantics need
          // >1 batch and the restart proof lives in LedgerStoreSpec,
          // not in the batch count — each extra batch re-runs the
          // WHOLE decision chain (~5 s of extraction + evaluation at
          // sf0.1 on the r15 box). Staged column: doc_id ONLY (r17) —
          // the whole ledger derives from it (hostLinks synthesizes
          // pages from the id; the mass rows group id residues), so
          // staging text was a corpus-sized write + stream re-read
          // for nothing, and the description's "payload text never
          // enters the ledger" now holds for the staging leg too.
          val staged = docsT.select(col("doc_id"))
          val stream = Common.stagedStream(staged, col("doc_id"), "decision_in", d)
          val chkDir = Common.scratchDir("decision_chk", d)
          val store = new graft.streaming.LedgerStore(s,
            s"$chkDir/ledger")
          var (ledger, lastApplied) =
            store.recover(toLedger(staged.limit(0)))
          var decision: DataFrame = null
          Common.drain(s, chkDir) {
            stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
              if (batchId > lastApplied) {
                ledger = store.commit(
                  merge(ledger, toLedger(batch)), batchId)
                lastApplied = batchId
                // the standing table: re-ranked, re-budgeted,
                // re-scheduled on the graph as of THIS batch
                decision = evaluate(ledger).localCheckpoint()
              }
              ()
            }
          }
          // a restarted drain with zero new batches recovers the
          // ledger and re-evaluates (decision derives from state)
          if (decision == null) decision = evaluate(ledger)
          decision.orderBy("host")
        }
      }),

    Q("q258_coding_audit",
      "flagged-codings corpus audit (T168 — the 'how much of the " +
        "crawl can't we decode' meter VERDICT-r12 asked for in place " +
        "of an in-sandbox brotli decoder): per doc, a response is " +
        "synthesized under one of six Content-Encoding shapes (gzip " +
        "/ deflate / zstd through the REAL encoders, br — " +
        "undecodable by policy, the stacked 'br, gzip' whose OUTER " +
        "gzip layer decodes before the br core flags, and identity) " +
        "and run through the full T150 decode; the corpus-level " +
        "rollup per declared coding list — responses, decoded, " +
        "flagged, flagged ppm — is the audit a 100 TB ingest reads " +
        "before deciding whether a missing decoder matters. The " +
        "oracle pins every count closed-form by residue; one " +
        "mis-flagged coding list shifts two groups. Zero shuffle " +
        "beside the six-group rollup",
      Some("""WITH e AS (SELECT doc_id,
            CASE doc_id % 6 WHEN 0 THEN 'gzip' WHEN 1 THEN 'deflate'
              WHEN 2 THEN 'zstd' WHEN 3 THEN 'br'
              WHEN 4 THEN 'br,gzip' ELSE 'identity' END AS codings,
            CASE WHEN doc_id % 6 IN (3, 4) THEN 0 ELSE 1 END AS dec
          FROM documents)
        SELECT codings,
          CAST(COUNT(*) AS BIGINT) AS n_responses,
          CAST(SUM(dec) AS BIGINT) AS n_decoded,
          CAST(SUM(1 - dec) AS BIGINT) AS n_flagged,
          CAST(1000000 * SUM(1 - dec) // COUNT(*) AS BIGINT)
            AS flagged_ppm
        FROM e GROUP BY codings ORDER BY codings"""),
      (s, d) => {
        import s.implicits._
        import graft.multimodal.Http
        table(s, d, "documents").select(col("doc_id")).as[Long]
          .map { id =>
            val body = s"auditable payload of d$id".getBytes("UTF-8")
            def gz(p: Array[Byte]): Array[Byte] = {
              val bos = new java.io.ByteArrayOutputStream()
              val g = new java.util.zip.GZIPOutputStream(bos)
              g.write(p); g.close(); bos.toByteArray
            }
            def zlib(p: Array[Byte]): Array[Byte] = {
              val dfl = new java.util.zip.Deflater()
              dfl.setInput(p); dfl.finish()
              val bos = new java.io.ByteArrayOutputStream()
              val buf = new Array[Byte](256)
              while (!dfl.finished())
                bos.write(buf, 0, dfl.deflate(buf))
              dfl.end(); bos.toByteArray
            }
            val (ce, wire) = (id % 6) match {
              case 0 => ("gzip", gz(body))
              case 1 => ("deflate", zlib(body))
              case 2 => ("zstd",
                com.github.luben.zstd.Zstd.compress(body))
              case 3 => ("br", body) // no decoder: flagged, kept
              case 4 => ("br, gzip", gz(body)) // outer layer decodes,
                // the br core flags — partial decode, still audited
              case _ => ("identity", body)
            }
            val msg = Http.render(200, "OK",
              Seq("Content-Type" -> "text/plain",
                "Content-Encoding" -> ce), wire)
            val (_, _, _, cm) = Http.parseResponseFullyDecoded(msg).get
            (cm.codings.mkString(","), if (cm.decoded) 1L else 0L)
          }
          .toDF("codings", "dec")
          .groupBy("codings")
          .agg(count(lit(1)).as("n_responses"),
            sum(col("dec")).as("n_decoded"),
            sum(lit(1L) - col("dec")).as("n_flagged"))
          .select(col("codings"), col("n_responses"), col("n_decoded"),
            col("n_flagged"),
            expr("1000000 * n_flagged div n_responses")
              .as("flagged_ppm"))
          .orderBy("codings")
      })
  )
}
