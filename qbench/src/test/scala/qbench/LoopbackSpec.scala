package qbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

import graft.qbo.{QboHttpApi, QboOAuth2TokenSource, Reports}

class LoopbackSpec extends AnyFunSuite {

  private def withServer(tokenUses: Int)(f: (QboGen, LoopbackQbo) => Unit): Unit = {
    val gen = new QboGen(11, rowsPerEntity = 250)
    val s = new LoopbackQbo(gen, threads = 2, tokenUses = tokenUses)
    try f(gen, s) finally s.stop()
  }

  private def api(s: LoopbackQbo) = new QboHttpApi(s.baseUrl, s.realm,
    new QboOAuth2TokenSource(s.tokenUrl, s.clientId, s.clientSecret, s.initialRefreshToken))

  private def countRows(page: String, entity: String): Int = {
    val arr = new com.fasterxml.jackson.databind.ObjectMapper().readTree(page)
      .path("QueryResponse").path(entity)
    if (arr.isArray) arr.size() else 0
  }

  test("query paging: STARTPOSITION/MAXRESULTS pages, then an empty past-the-end page") {
    withServer(tokenUses = 100) { (gen, s) =>
      val a = api(s)
      assert(countRows(a.queryPage("Bill", 1), "Bill") == 100)
      assert(countRows(a.queryPage("Bill", 201), "Bill") == 50)
      assert(countRows(a.queryPage("Bill", 301), "Bill") == 0)
      assert(new String(gen.entityPages("Bill")(1), "UTF-8") == a.queryPage("Bill", 101))
      assert(s.pagesServed.get == 3 && s.pastEnd.get == 1 && s.rowsServed.get == 250)
      assert(s.refreshes.get == 1 && s.badRequests.get == 0)
    }
  }

  test("tokens: an expired token gets 401 and the client refreshes and retries once") {
    withServer(tokenUses = 2) { (_, s) =>
      val a = api(s)
      (1 to 5).foreach(i => assert(countRows(a.queryPage("Deposit", 1), "Deposit") == 100, s"call $i"))
      // uses: 2 per token, so calls 3 and 5 each hit one 401
      assert(s.unauthorized.get == 2)
      assert(s.refreshes.get == 3)
    }
  }

  test("the server refuses what the client contract does not send") {
    withServer(tokenUses = 100) { (_, s) =>
      val c = HttpClient.newHttpClient()
      def post(path: String, body: String, headers: (String, String)*): Int = {
        val b = HttpRequest.newBuilder().uri(URI.create(s.baseUrl + path))
          .POST(HttpRequest.BodyPublishers.ofString(body))
        headers.foreach { case (k, v) => b.header(k, v) }
        c.send(b.build(), HttpResponse.BodyHandlers.ofString()).statusCode()
      }
      // no Bearer header
      assert(post(s"/v3/company/${s.realm}/query", "SELECT * FROM Bill STARTPOSITION 1 MAXRESULTS 100") == 401)
      // refresh form without the client's Basic credentials, or with a bad grant
      assert(post("/oauth2/token", "grant_type=refresh_token&refresh_token=rt-0") == 400)
      val basic = "Basic " + java.util.Base64.getEncoder.encodeToString(
        s"${s.clientId}:${s.clientSecret}".getBytes("UTF-8"))
      assert(post("/oauth2/token", "grant_type=password&refresh_token=rt-0", "Authorization" -> basic) == 400)
      assert(post("/oauth2/token", "grant_type=refresh_token&refresh_token=rt-0", "Authorization" -> basic) == 200)
      // a report the server does not serve fails loudly in the client
      val a = api(s)
      intercept[RuntimeException](a.report("NoSuchReport", Nil))
    }
  }

  test("report fetch loops: P&L month loop and the paged ByVendor report") {
    withServer(tokenUses = 1000) { (gen, s) =>
      val a = api(s)
      val pnl = Reports.Fetch.profitAndLoss(a, gen.pnlMonths.head, gen.pnlMonths.last)
      assert(pnl.map(_._1) == gen.pnlMonths.map(_.toString))
      val pages = Reports.Fetch.transactionListByVendor(a, "2021-01-01", "2023-12-31")
      assert(pages.length == QboGen.ByVendorPages)
      assert(Reports.Fetch.transactionList(a, "2021-01-01", "2023-12-31") ==
        new String(gen.txnListDoc, "UTF-8"))
      assert(s.badRequests.get == 0)
    }
  }
}
