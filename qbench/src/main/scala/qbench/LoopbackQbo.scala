package qbench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process QBO stand-in on 127.0.0.1: an OAuth2 token endpoint, the
  * Query API and the Reports API, serving [[QboGen]]'s pre-rendered
  * bytes with at most `threads` handler threads. It speaks the contract
  * `QboHttpApi` and `QboOAuth2TokenSource` send:
  *  - POST /oauth2/token, HTTP Basic client credentials, form body
  *    `grant_type=refresh_token&refresh_token=...`; the reply rotates
  *    the refresh token;
  *  - POST /v3/company/{realm}/query, `Authorization: Bearer`, body
  *    `SELECT * FROM <Entity> STARTPOSITION <n> MAXRESULTS 100`;
  *  - GET /v3/company/{realm}/reports/<Name>?start_date=..&end_date=..
  *    (ByVendor adds start_position/max_results).
  *
  * An access token is good for `tokenUses` requests; the next request
  * with it gets 401, which makes the client refresh and retry once.
  * Everything is counted here, at the server.
  */
final class LoopbackQbo(gen: QboGen, threads: Int, val realm: String = "4620816365",
    tokenUses: Int = 50) {

  val clientId = "qbench-client"
  val clientSecret = "qbench-secret"
  val initialRefreshToken = "rt-0"

  val requests = new AtomicLong
  val pastEnd = new AtomicLong
  val unauthorized = new AtomicLong
  val bytes = new AtomicLong
  val refreshes = new AtomicLong
  val pagesServed = new AtomicLong
  val rowsServed = new AtomicLong
  val badRequests = new AtomicLong

  private val tokenSeq = new AtomicLong
  // access token -> remaining uses; refresh tokens in force
  private val live = new ConcurrentHashMap[String, AtomicLong]()
  private val refreshTokens = ConcurrentHashMap.newKeySet[String]()
  refreshTokens.add(initialRefreshToken)

  private val QueryRe = """(?i)\s*SELECT \* FROM (\w+) STARTPOSITION (\d+) MAXRESULTS (\d+)\s*""".r
  private val EmptyPage = """{"QueryResponse": {}, "time": "2024-01-01T00:00:00.000-08:00"}""".getBytes(UTF_8)

  // small request/response pairs: without TCP_NODELAY every exchange
  // waits out the peer's delayed ACK
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  private val pool = Executors.newFixedThreadPool(threads, r => {
    val t = new Thread(r, "qbench-loopback")
    t.setDaemon(true)
    t
  })
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()

  def baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def tokenUrl: String = s"$baseUrl/oauth2/token"

  def resetCounters(): Unit =
    Seq(requests, pastEnd, unauthorized, bytes, refreshes, pagesServed, rowsServed, badRequests)
      .foreach(_.set(0))

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  private def reply(ex: HttpExchange, code: Int, body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length.toLong)
    if (body.nonEmpty) {
      val os = ex.getResponseBody
      os.write(body)
      os.close()
    }
    bytes.addAndGet(body.length.toLong)
    ex.close()
  }

  private def params(raw: String): Map[String, String] =
    Option(raw).filter(_.nonEmpty).map(_.split('&').toSeq.map { kv =>
      val i = kv.indexOf('=')
      if (i < 0) URLDecoder.decode(kv, UTF_8) -> ""
      else URLDecoder.decode(kv.substring(0, i), UTF_8) -> URLDecoder.decode(kv.substring(i + 1), UTF_8)
    }.toMap).getOrElse(Map.empty)

  private def authorized(ex: HttpExchange): Boolean = {
    val h = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
    val ok = h.startsWith("Bearer ") &&
      Option(live.get(h.substring(7))).exists(_.getAndDecrement() > 0)
    if (!ok) unauthorized.incrementAndGet()
    ok
  }

  private def handle(ex: HttpExchange): Unit =
    try {
      requests.incrementAndGet()
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val path = ex.getRequestURI.getPath
      val companyPrefix = s"/v3/company/$realm/"
      if (path == "/oauth2/token" && ex.getRequestMethod == "POST") token(ex, body)
      else if (path == companyPrefix + "query" && ex.getRequestMethod == "POST") {
        if (authorized(ex)) query(ex, body) else reply(ex, 401, Array.emptyByteArray)
      } else if (path.startsWith(companyPrefix + "reports/") && ex.getRequestMethod == "GET") {
        if (authorized(ex))
          report(ex, path.substring((companyPrefix + "reports/").length),
            params(ex.getRequestURI.getRawQuery))
        else reply(ex, 401, Array.emptyByteArray)
      } else bad(ex, s"no route for ${ex.getRequestMethod} $path")
    } catch {
      case t: Throwable => bad(ex, t.toString)
    }

  private def bad(ex: HttpExchange, msg: String): Unit = {
    badRequests.incrementAndGet()
    reply(ex, 400, s"""{"error": "${Json.esc(msg)}"}""".getBytes(UTF_8))
  }

  private def token(ex: HttpExchange, body: String): Unit = {
    val expect = "Basic " + java.util.Base64.getEncoder.encodeToString(
      s"$clientId:$clientSecret".getBytes(UTF_8))
    val form = params(body)
    val basicOk = ex.getRequestHeaders.getFirst("Authorization") == expect
    val formOk = form.get("grant_type").contains("refresh_token") &&
      form.get("refresh_token").exists(refreshTokens.contains)
    if (!basicOk || !formOk) bad(ex, "invalid_grant")
    else {
      refreshes.incrementAndGet()
      val n = tokenSeq.incrementAndGet()
      val access = s"at-$n"
      live.put(access, new AtomicLong(tokenUses))
      // rotate: the new refresh token joins; old ones stay valid so
      // concurrent executor-side token sources never race each other out
      refreshTokens.add(s"rt-$n")
      reply(ex, 200, (s"""{"access_token": "$access", "refresh_token": "rt-$n", """ +
        s""""token_type": "bearer", "expires_in": 3600}""").getBytes(UTF_8))
    }
  }

  private def query(ex: HttpExchange, body: String): Unit = body match {
    case QueryRe(entity, start, max) if max.toInt == QboGen.PageSize &&
        gen.entityPages.contains(entity) && start.toInt >= 1 &&
        (start.toInt - 1) % QboGen.PageSize == 0 =>
      val pages = gen.entityPages(entity)
      val idx = (start.toInt - 1) / QboGen.PageSize
      if (idx < pages.length) {
        pagesServed.incrementAndGet()
        rowsServed.addAndGet(math.min(QboGen.PageSize,
          gen.rowsPerEntity - idx * QboGen.PageSize).toLong)
        reply(ex, 200, pages(idx))
      } else {
        pastEnd.incrementAndGet()
        reply(ex, 200, EmptyPage)
      }
    case other => bad(ex, s"unsupported query: ${other.take(120)}")
  }

  private def report(ex: HttpExchange, name: String, p: Map[String, String]): Unit =
    name match {
      case "ProfitAndLoss" =>
        val month = p.get("start_date").map(_.take(7))
        month.flatMap(gen.pnlDocs.get) match {
          case Some(doc) if p.contains("end_date") => reply(ex, 200, doc)
          case _ => bad(ex, s"no P&L for $p")
        }
      case "TransactionList" if p.contains("start_date") && p.contains("end_date") =>
        reply(ex, 200, gen.txnListDoc)
      case "TransactionListByVendor" =>
        val pos = p.get("start_position").map(_.toInt).getOrElse(1)
        val max = p.get("max_results").map(_.toInt).getOrElse(QboGen.PageSize)
        val idx = (pos - 1) / max
        if (max != QboGen.PageSize || (pos - 1) % max != 0) bad(ex, s"bad paging $p")
        else if (idx < gen.byVendorPages.length) reply(ex, 200, gen.byVendorPages(idx))
        else { pastEnd.incrementAndGet(); reply(ex, 200, """{"Rows": {}}""".getBytes(UTF_8)) }
      case other => bad(ex, s"unknown report $other")
    }
}
