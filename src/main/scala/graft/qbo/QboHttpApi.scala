package graft.qbo

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

/** Access-token supply for the live client — the engine-side face of
  * the reference's OAuth2 refresh flow (SURVEY §2.1 S1).
  * `refresh()` is called on a 401 and must return a usable token.
  * [[QboOAuth2TokenSource]] is the live implementation; tests plug in
  * fakes.
  */
trait QboTokenSource {
  def accessToken: String
  def refresh(): String
}

/** The one HTTP exchange of the live client: a blocking
  * `HttpURLConnection` request returning the status and the body bytes.
  * Redirects are not followed, as with the JDK `HttpClient`. No
  * fixed-length or chunked streaming mode: with it, a 401 on a POST
  * throws `HttpRetryException`. A 4xx/5xx error stream is read and
  * closed like any body, which returns the connection to the cache.
  */
private[qbo] object QboHttp {
  def exchange(method: String, url: String, headers: Seq[(String, String)],
      body: Option[Array[Byte]]): (Int, Array[Byte]) = {
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setInstanceFollowRedirects(false)
    c.setRequestMethod(method)
    headers.foreach { case (k, v) => c.setRequestProperty(k, v) }
    body.foreach { b =>
      c.setDoOutput(true)
      val out = c.getOutputStream
      try out.write(b) finally out.close()
    }
    val status = c.getResponseCode
    val in = if (status >= 400) c.getErrorStream else c.getInputStream
    (status, if (in == null) Array.emptyByteArray else try in.readAllBytes() finally in.close())
  }
}

/** Live OAuth2 refresh-token exchange (Quickbooks_API.py:14-36): POST
  * `grant_type=refresh_token` form-encoded with HTTP Basic
  * `clientId:clientSecret`, parse `access_token` from the JSON reply.
  * QBO rotates refresh tokens — when the reply carries a new
  * `refresh_token` it replaces the stored one, so the NEXT exchange
  * uses the rotated credential (the reference prints the response and
  * drops the rotation on the floor; a long-running engine cannot).
  *
  * Thread-safety: `refresh()` is synchronized — concurrent 401s from
  * parallel page fetches collapse into one exchange at a time rather
  * than racing the rotation.
  */
final class QboOAuth2TokenSource(tokenUrl: String, clientId: String,
    clientSecret: String, initialRefreshToken: String) extends QboTokenSource {

  private var refreshToken = initialRefreshToken
  private var token: String = ""

  override def accessToken: String =
    synchronized { if (token.isEmpty) refresh() else token }

  override def refresh(): String = synchronized {
    val basic = java.util.Base64.getEncoder.encodeToString(
      s"$clientId:$clientSecret".getBytes(UTF_8))
    val form = "grant_type=refresh_token&refresh_token=" +
      URLEncoder.encode(refreshToken, "UTF-8")
    val (status, bytes) = QboHttp.exchange("POST", tokenUrl, Seq(
      "Authorization" -> s"Basic $basic",
      "Content-Type" -> "application/x-www-form-urlencoded",
      "Accept" -> "application/json"), Some(form.getBytes(UTF_8)))
    val body = new String(bytes, UTF_8)
    if (status != 200)
      throw new RuntimeException(s"OAuth2 refresh failed: HTTP $status $body")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
    val access = node.path("access_token").asText("")
    if (access.isEmpty)
      throw new RuntimeException(
        "OAuth2 refresh response carried no access_token: " + body)
    val rotated = node.path("refresh_token").asText("")
    if (rotated.nonEmpty) refreshToken = rotated
    token = access
    access
  }
}

/** Live HTTP binding of [[QboApi]] + [[QboReportsApi]]: the entity
  * query POSTs to `/v3/company/{realm}/query` (`qb_bills.py:40-44`),
  * reports GET `/v3/company/{realm}/reports/<Name>` with query-string
  * params (`qb_profit&loss.py:42-67`, `qb_transactionlist.py:46-60`,
  * `qb_transactionlistbyvendordetail.py:42-70`) — both with Bearer
  * auth, retrying ONCE through `tokens.refresh()` on 401. Each request
  * is one [[QboHttp.exchange]] on the JVM's keep-alive HTTP/1.1
  * connections, no client object and no extra deps; the JVM keeps at
  * most `http.maxConnections` (default 5) idle per destination, and
  * fetch threads beyond that open fresh sockets.
  *
  * A thin transport: bodies return unparsed (the `qbo` scan reads a
  * page's bytes, [[queryPageBytes]]; the String faces decode them), so
  * the DSv2 source, [[QboSource.fetchAll]] and [[Reports.Fetch]] drive
  * it exactly as they drive the fixture backends.
  */
final class QboHttpApi(baseUrl: String, realm: String,
    tokens: QboTokenSource) extends QboApi with QboReportsApi {

  /** Shared auth/retry shell: send with the current token, retry once
    * through `refresh()` on 401, loud error on anything else non-200.
    */
  private def sendAuthed(method: String, url: String, contentType: String,
      body: Option[Array[Byte]]): Array[Byte] = {
    def send(token: String): (Int, Array[Byte]) =
      QboHttp.exchange(method, url, Seq(
        "Authorization" -> s"Bearer $token",
        "Content-Type" -> contentType,
        "Accept" -> "application/json"), body)
    val first = send(tokens.accessToken)
    val (status, bytes) = if (first._1 == 401) send(tokens.refresh()) else first
    if (status != 200)
      throw new RuntimeException(
        s"QBO request failed: HTTP $status ${new String(bytes, UTF_8)}")
    bytes
  }

  /** [[queryPage]] as the body's bytes, never decoded. */
  def queryPageBytes(entity: String, startPosition: Int): Array[Byte] = {
    val q = s"SELECT * FROM $entity STARTPOSITION $startPosition " +
      s"MAXRESULTS ${QboSource.PageSize}"
    sendAuthed("POST", s"$baseUrl/v3/company/$realm/query",
      "application/text", Some(q.getBytes(UTF_8)))
  }

  override def queryPage(entity: String, startPosition: Int): String =
    new String(queryPageBytes(entity, startPosition), UTF_8)

  override def report(name: String, params: Seq[(String, String)]): String = {
    val qs = params.map { case (k, v) =>
      URLEncoder.encode(k, "UTF-8") + "=" + URLEncoder.encode(v, "UTF-8")
    }.mkString("&")
    val suffix = if (qs.isEmpty) "" else s"?$qs"
    new String(sendAuthed("GET",
      s"$baseUrl/v3/company/$realm/reports/$name$suffix",
      "application/json", None), UTF_8)
  }
}
