package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

class QboDataSourceSpec extends SparkSpec {

  test("format(\"qbo\") reads pages as input partitions") {
    val df = spark.read.format("qbo")
      .option("entity", "Bill").option("feed", "bills").load()
    assert(df.count() == 3)
    // two fixture pages → two input partitions (parallel page fetch model)
    assert(df.rdd.getNumPartitions == 2)
    assert(df.select("Id").orderBy("Id").collect().map(_.getString(0)).toSeq
      == Seq("145", "146", "147"))
  }

  test("nested fields parse with from_json semantics") {
    val df = spark.read.format("qbo")
      .option("entity", "Bill").option("feed", "bills").load()
    val v = df.filter(col("Id") === "145")
      .select(col("VendorRef.name"), col("Line")(0)("Amount")).head
    assert(v.getString(0) == "Acme Supply")
    assert(v.getDouble(1) == 1250.5)
  }

  test("column pruning pushes into the source (S7-style projection)") {
    val df = spark.read.format("qbo")
      .option("entity", "Bill").option("feed", "bills").load()
      .select("Id", "Balance")
    val scan = df.queryExecution.executedPlan.toString
    // the scan's output must be just the two pruned columns
    assert(df.count() == 3)
    assert(scan.contains("qbo/Bill"), scan)
    assert(!scan.contains("VendorRef"), scan)
  }

  test("the full Bills pipeline runs on the DSv2 source") {
    import graft.qbo.Entities.Bills
    val raw = spark.read.format("qbo")
      .option("entity", "Bill").option("feed", "bills").load()
    val out = Bills.warehouse(Bills.stage(raw)).orderBy("id").collect()
    assert(out.length == 3)
    assert(out.map(_.getInt(2)).toSeq == Seq(145, 146, 147))
  }

  private def filterNodes(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }

  test("TxnDate range pushes into the source; no post-scan Filter remains") {
    import graft.qbo.{Fixtures, QboSource, Schemas}
    // fixture bills: TxnDate 2024-03-05, 2024-03-06, 2024-03-09; the
    // same scan serves format("qbo") and QboSource.entityFrame
    for (bills <- Seq(
        spark.read.format("qbo").option("entity", "Bill").option("feed", "bills").load(),
        QboSource.entityFrame(spark, "Bill", Fixtures.billPages, Schemas.bill))) {
      val df = bills
        .filter(col("TxnDate") >= "2024-03-06" && col("TxnDate") < "2024-03-09")
      val rows = df.select("Id").orderBy("Id").collect().map(_.getString(0))
      assert(rows.toSeq == Seq("146"))
      // the accepted predicates must be GONE from the Spark plan (the
      // source is trusted to apply them — the server-side-params model)
      assert(filterNodes(df).isEmpty, df.queryExecution.executedPlan.toString)
      // and the scan advertises the window it would send as request params
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("start_date=2024-03-06"), plan)
      assert(plan.contains("end_date="), plan)
    }
  }

  test("pushed filter on a pruned-out column still applies") {
    // output doesn't include TxnDate, so the parse schema must re-add it
    // for the window evaluation and project it away afterwards
    val df = spark.read.format("qbo")
      .option("entity", "Bill").option("feed", "bills").load()
      .filter(col("TxnDate") === "2024-03-05")
      .select("Id", "Balance")
    val got = df.collect()
    assert(got.map(_.getString(0)).toSeq == Seq("145"))
    assert(got.head.getDouble(1) == 1250.5)
    assert(filterNodes(df).isEmpty)
  }

  test("non-date predicates stay Spark-side residuals") {
    val df = spark.read.format("qbo")
      .option("entity", "Bill").option("feed", "bills").load()
      .filter(col("Balance") > 100.0)
    assert(df.count() == 1) // only 1250.5 exceeds 100 in the fixtures
    assert(filterNodes(df).nonEmpty)
  }

  test("fetchPartitions=N speculatively fans page fetches out over N " +
      "input partitions with identical results (S3, VERDICT-r7 item 7)") {
    // 3-page feed: with fetchPartitions=2, partition 1 strides pages
    // 1,3 (then probes past-the-end and stops), partition 2 strides
    // page 2 then stops — every page fetched exactly once, inside
    // executor tasks, with no global page count known up front. This
    // is the live-API ingest scale path: the reference fetches pages
    // serially on the driver (qb_billpayments.py:66-79).
    QboPageFeeds.register("three_deposits", Seq(
      """{"QueryResponse": {"Deposit": [{"Id": "1", "TotalAmt": 1.0,
         "TxnDate": "2024-06-01"}, {"Id": "2", "TotalAmt": 2.0,
         "TxnDate": "2024-06-02"}]}}""",
      """{"QueryResponse": {"Deposit": [{"Id": "3", "TotalAmt": 3.0,
         "TxnDate": "2024-06-03"}]}}""",
      """{"QueryResponse": {"Deposit": [{"Id": "4", "TotalAmt": 4.0,
         "TxnDate": "2024-06-04"}]}}"""))
    def read(opts: Map[String, String]) = spark.read.format("qbo")
      .option("entity", "Deposit").option("feed", "three_deposits")
      .options(opts).load()
    val fanned = read(Map("fetchPartitions" -> "2"))
    assert(fanned.rdd.getNumPartitions == 2)
    val serial = read(Map.empty)
    assert(serial.rdd.getNumPartitions == 3) // one per known page
    val a = fanned.select("Id", "TotalAmt").orderBy("Id")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val b = serial.select("Id", "TotalAmt").orderBy("Id")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(a == b && a.map(_._1) == Seq("1", "2", "3", "4"))
    // pushdown composes with the fan-out: the date window applies
    // inside each strided reader
    val filtered = read(Map("fetchPartitions" -> "2"))
      .filter(col("TxnDate") >= "2024-06-03")
    assert(filtered.select("Id").collect().map(_.getString(0)).toSet
      == Set("3", "4"))
  }

  test("strided fan-out under a transient fetch failure: Spark retries " +
      "the task and every page's rows land EXACTLY once (VERDICT-r8 " +
      "item 4 — at-least-once HTTP, exactly-once rows)") {
    // 4-page feed, fetchPartitions=2: partition A strides pages 1,3
    // (+ probe 5), partition B pages 2,4 (+ probe 6). Page 3's fetch
    // throws ONCE (injected transient fault = a flaky HTTP GET), so
    // attempt 1 of task A dies mid-read AFTER page 1's rows were
    // already produced; Spark discards that attempt's output wholesale
    // and reruns the whole stride — if retried output were appended
    // instead of replacing, page 1's rows would appear twice.
    QboPageFeeds.register("flaky_deposits", Seq(
      """{"QueryResponse": {"Deposit": [{"Id": "1", "TotalAmt": 1.0,
         "TxnDate": "2024-06-01"}, {"Id": "2", "TotalAmt": 2.0,
         "TxnDate": "2024-06-02"}]}}""",
      """{"QueryResponse": {"Deposit": [{"Id": "3", "TotalAmt": 3.0,
         "TxnDate": "2024-06-03"}]}}""",
      """{"QueryResponse": {"Deposit": [{"Id": "4", "TotalAmt": 4.0,
         "TxnDate": "2024-06-04"}]}}""",
      """{"QueryResponse": {"Deposit": [{"Id": "5", "TotalAmt": 5.0,
         "TxnDate": "2024-06-05"}]}}"""))
    QboPageFeeds.injectFault("flaky_deposits", 3, times = 1)
    val before = QboPageFeeds.fetchCount("flaky_deposits")
    val rows = spark.read.format("qbo")
      .option("entity", "Deposit").option("feed", "flaky_deposits")
      .option("fetchPartitions", "2").load()
      .select("Id").collect().map(_.getString(0)).sorted.toSeq
    // exactly-once rows: no loss (page 3 recovered on retry) and no
    // duplication (page 1 not double-counted across attempts)
    assert(rows == Seq("1", "2", "3", "4", "5"), rows.toString)
    // the fault was actually consumed — a retry happened
    assert(QboPageFeeds.faultsRemaining("flaky_deposits", 3) == 0)
    // at-least-once fetches: a clean run is 6 calls (partition A: pages
    // 1, 3 + probe 5; partition B: pages 2, 4 + probe 6); the failed
    // attempt adds its two pre-fault fetches (page 1 ok, page 3 threw)
    assert(QboPageFeeds.fetchCount("flaky_deposits") - before == 8,
      s"fetch count ${QboPageFeeds.fetchCount("flaky_deposits") - before}")
  }

  test("strided read of an unregistered feed fails fast with the " +
      "registry-scope error, not a silent empty scan (ADVICE-r8)") {
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("qbo")
        .option("entity", "Deposit").option("feed", "never_registered")
        .option("fetchPartitions", "2").load().count()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("not registered in this JVM")), e.toString)
  }

  override protected def afterAll(): Unit = {
    // drop injected faults/counters and stop counting (ADVICE-r9): the
    // instrumentation must not tax or leak into later suites
    QboPageFeeds.resetInstrumentation()
    super.afterAll()
  }

  test("strided fan-out over the SERIALIZED HTTP fetch handle: readers " +
      "resolve pages with NO driver-JVM registry involved (VERDICT-r9 " +
      "item 6 — endpoint + token config serialized into the partition)") {
    import java.net.InetSocketAddress
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(code, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    val tokenPosts = new java.util.concurrent.atomic.AtomicInteger(0)
    val queries = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/oauth/token", (ex: HttpExchange) => {
      tokenPosts.incrementAndGet()
      respond(ex, 200, """{"access_token":"fresh-token"}""")
    })
    server.createContext("/v3/company/r77/query", (ex: HttpExchange) => {
      val auth = ex.getRequestHeaders.getFirst("Authorization")
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      if (auth != "Bearer fresh-token")
        respond(ex, 401, """{"fault":"AuthenticationFault"}""")
      else {
        queries.incrementAndGet()
        val sp = "STARTPOSITION (\\d+)".r
          .findFirstMatchIn(body).get.group(1).toInt
        // 4 rows over three pages; STARTPOSITION 301+ is past-the-end
        // (an empty QueryResponse, the real API's termination shape)
        val resp = sp match {
          case 1 => """{"QueryResponse":{"Deposit":[
            {"Id":"1","TotalAmt":1.0,"TxnDate":"2024-06-01"},
            {"Id":"2","TotalAmt":2.0,"TxnDate":"2024-06-02"}]}}"""
          case 101 => """{"QueryResponse":{"Deposit":[
            {"Id":"3","TotalAmt":3.0,"TxnDate":"2024-06-03"}]}}"""
          case 201 => """{"QueryResponse":{"Deposit":[
            {"Id":"4","TotalAmt":4.0,"TxnDate":"2024-06-04"}]}}"""
          case _ => """{"QueryResponse":{}}"""
        }
        respond(ex, 200, resp)
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      // NOTE: no option("feed"), nothing registered in QboPageFeeds —
      // every page resolves through the serialized QboHttpFeedConfig
      // inside the executor task (each task refreshes its own token,
      // the cluster-real shape)
      val df = spark.read.format("qbo")
        .option("entity", "Deposit")
        .option("httpBaseUrl", base).option("realm", "r77")
        .option("tokenUrl", s"$base/oauth/token")
        .option("clientId", "cid").option("clientSecret", "sec")
        .option("refreshToken", "rt0")
        .option("fetchPartitions", "2")
        .load()
      assert(df.rdd.getNumPartitions == 2)
      // sorted locally: a Spark orderBy samples the scan in a job of
      // its own, which would fetch every page twice
      val got = df.select("Id", "TotalAmt")
        .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq.sorted
      assert(got == Seq(("1", 1.0), ("2", 2.0), ("3", 3.0), ("4", 4.0)))
      // the 3 pages plus one past-the-end probe per strided partition:
      // the reader's one parse of each body is also the stop test
      assert(queries.get() == 5, s"authorized query requests ${queries.get()}")
      // both strided tasks fetched independently: each built its own
      // token source and exchanged the refresh token itself
      assert(tokenPosts.get() >= 1)
      // pushdown composes with the serialized fetcher exactly as with
      // the registry one (the window applies inside each reader)
      val filtered = spark.read.format("qbo")
        .option("entity", "Deposit")
        .option("httpBaseUrl", base).option("realm", "r77")
        .option("tokenUrl", s"$base/oauth/token")
        .option("clientId", "cid").option("clientSecret", "sec")
        .option("refreshToken", "rt0")
        .option("fetchPartitions", "2")
        .load()
        .filter(col("TxnDate") >= "2024-06-03")
      assert(filtered.select("Id").collect().map(_.getString(0)).toSet
        == Set("3", "4"))
    } finally server.stop(0)
  }

  test("pages reach the parser as UTF-8 bytes: multi-byte and " +
      "supplementary text reads back exactly over the serialized HTTP " +
      "handle and a registry feed; a malformed page still fails loudly") {
    import java.net.InetSocketAddress
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val note = "naïve – 東京 😀"
    val good = s"""{"QueryResponse":{"Deposit":[
      {"Id":"1","TotalAmt":1.0,"TxnDate":"2024-06-01","PrivateNote":"$note"}]}}"""
    // type drift (TotalAmt an object) after 200+ characters of
    // multi-byte text: the error names the page's first 200 characters
    val bad = """{"QueryResponse":{"Deposit":[{"Id":"2","PrivateNote":"""" +
      "東京😀" * 60 + """","TotalAmt":{"amount":5.0}}]}}"""
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    def serve(realm: String, page: String): Unit =
      server.createContext(s"/v3/company/$realm/query", (ex: HttpExchange) => {
        val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
        val bytes = (if (body.contains("STARTPOSITION 1 ")) page
          else """{"QueryResponse":{}}""").getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      })
    server.createContext("/oauth/token", (ex: HttpExchange) => {
      val bytes = """{"access_token":"t"}""".getBytes("UTF-8")
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    serve("good", good)
    serve("bad", bad)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      def http(realm: String) = spark.read.format("qbo")
        .option("entity", "Deposit")
        .option("httpBaseUrl", base).option("realm", realm)
        .option("tokenUrl", s"$base/oauth/token")
        .option("clientId", "cid").option("clientSecret", "sec")
        .option("refreshToken", "rt0")
        .option("fetchPartitions", "2")
        .load()
      def notes(df: org.apache.spark.sql.DataFrame) =
        df.select("PrivateNote").collect().map(_.getString(0)).toSeq
      assert(notes(http("good")) == Seq(note))
      QboPageFeeds.register("utf8_deposits", Seq(good))
      assert(notes(spark.read.format("qbo").option("entity", "Deposit")
        .option("feed", "utf8_deposits").load()) == Seq(note))
      val e = intercept[Throwable](http("bad").collect())
      val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(c => Option(c.getMessage).getOrElse("")).mkString(" | ")
      assert(bad.length > 200)
      assert(msg.contains("QBO Deposit page failed the declared-schema parse: " +
        bad.take(200)), msg)
      assert(!msg.contains(bad.take(201)), msg)
    } finally server.stop(0)
  }

  test("misconfigured HTTP fetch config fails LOUDLY at planning — " +
      "the validate() contract the registry fetcher already honored " +
      "(review-r10): no task ever launches, no retry noise") {
    def chain(e: Throwable): String = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    // the retry-loudness gate doubles as the no-task-launched proof:
    // a planning-time throw leaves no task failures to drain
    val ex = intercept[Exception] {
      spark.read.format("qbo")
        .option("entity", "Deposit")
        .option("httpBaseUrl", "not-a-url").option("realm", "r77")
        .option("tokenUrl", "https://t.example/token")
        .option("clientId", "cid").option("clientSecret", "sec")
        .option("refreshToken", "rt0")
        .load().count()
    }
    assert(chain(ex).contains("must be an http(s) URL"), chain(ex))
    val ex2 = intercept[Exception] {
      spark.read.format("qbo")
        .option("entity", "Deposit")
        .option("httpBaseUrl", "http://h.example").option("realm", " ")
        .option("tokenUrl", "https://t.example/token")
        .option("clientId", "cid").option("clientSecret", "sec")
        .option("refreshToken", "rt0")
        .load().count()
    }
    assert(chain(ex2).contains("incomplete: missing realm"), chain(ex2))
    assert(graft.TaskFailureMonitor.drainUnexpected().isEmpty,
      "misconfiguration must fail at planning, not in tasks")
  }

  test("custom feeds register dynamically") {
    QboPageFeeds.register("one_deposit", Seq(
      """{"QueryResponse": {"Deposit": [{"Id": "9", "TotalAmt": 5.0,
         "TxnDate": "2024-06-01"}]}}"""))
    val df = spark.read.format("qbo")
      .option("entity", "Deposit").option("feed", "one_deposit").load()
    assert(df.count() == 1)
  }
}
