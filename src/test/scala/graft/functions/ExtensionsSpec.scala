package graft.functions

import graft.SparkSpec

/** GraftExtensions must expose the custom expressions in SQL text on any
  * session of a context configured with spark.sql.extensions (a STATIC
  * conf — it binds at first-session construction, which is why the
  * shared test session carries it). `newSession()` gives a fresh
  * function registry, so resolution below can only come from the
  * extension injection.
  */
class ExtensionsSpec extends SparkSpec {

  test("spark.sql.extensions injects graft functions for SQL text") {
    val fresh = spark.newSession()
    val r = fresh.sql(
      """SELECT graft_jaccard(array('a b c', 'b c d'), array('b c d')) AS j,
         graft_minhash_signature('one two three four') AS sig""").head
    assert(r.getDouble(0) == 0.5)
    assert(r.getSeq[Long](1).length == 8)
  }

  test("graft_nfc composes decomposed sequences, identity on NFC text") {
    val fresh = spark.newSession()
    // input is DECOMPOSED ('e' + U+0301, 2 code points); NFC must
    // compose it to the precomposed form (1 code point)
    val r = fresh.sql(
      "SELECT graft_nfc('Cafe\u0301') AS c, graft_nfc('ascii only') AS a," +
        " graft_nfc(graft_nfc('Cafe\u0301')) AS cc").head
    assert(r.getString(0) == "Caf\u00e9", r.getString(0))
    assert(r.getString(0).length == 4)
    assert(r.getString(1) == "ascii only") // fast path: already NFC
    assert(r.getString(2) == r.getString(0)) // idempotent
  }

  test("frontier scalars resolve via extensions and agree with the " +
      "text modules; rejects surface as NULL; non-string args fail " +
      "analysis (q234)") {
    val fresh = spark.newSession()
    val r = fresh.sql(
      """SELECT graft_canonical_url('HTTP://Ex.TEST:80/a/../b?x=1#f') AS c,
           graft_canonical_url('mailto:a@b.c') AS bad,
           graft_registrable_domain('news.site.co.uk') AS rd,
           graft_registrable_domain('co.uk') AS rdbad,
           graft_robots_allowed(
             'User-agent: *\nDisallow: /private/\n',
             'graftbot', '/private/x') AS denied,
           graft_robots_allowed(
             'User-agent: *\nDisallow: /private/\n',
             'graftbot', '/public/x') AS allowed""").head
    assert(r.getString(0) == "http://ex.test/b?x=1")
    assert(r.isNullAt(1))
    assert(r.getString(2) == "site.co.uk")
    assert(r.isNullAt(3))
    assert(!r.getBoolean(4) && r.getBoolean(5))
    val e = intercept[Exception](
      fresh.sql("SELECT graft_canonical_url(42)").head)
    assert(e.getMessage.contains("string"), e.getMessage)
  }

  test("wrong arity fails analysis instead of silently discarding " +
      "arguments (review-r11)") {
    val fresh = spark.newSession()
    for (sql <- Seq(
        "SELECT graft_canonical_url('http://x/', 'surplus')",
        "SELECT graft_registrable_domain()",
        "SELECT graft_robots_allowed('', 'bot', '/p', 'extra')",
        "SELECT graft_jaccard(array('a'))",
        "SELECT graft_nfc('a', 'b')")) {
      val e = intercept[Exception](fresh.sql(sql).head)
      assert(e.getMessage.contains("argument"), s"$sql -> ${e.getMessage}")
    }
  }

  /** One sample-argument row per [[GraftFunctions.specs]] entry, in
    * table order: SQL argument texts over `range(1)` (column `id`), as
    * many as the function's arity.
    */
  private val sampleArgs: Seq[(String, Seq[String])] = Seq(
    "graft_minhash_signature" -> Seq("'one two three four'"),
    "graft_minhash_bands" -> Seq("array('a b c', 'b c d')"),
    "graft_shingles" -> Seq("'a b c d'"),
    "graft_explode_shingles" -> Seq("'a b c d'"),
    "graft_lsh_bucket" -> Seq("array(0.5D, -1.0D, 2.0D)"),
    "graft_jaccard" -> Seq("array('a', 'b')", "array('b')"),
    "graft_dot" -> Seq("array(1.0D, 2.0D)", "array(3.0D, 4.0D)"),
    "graft_simhash" -> Seq("'a b c'"),
    "graft_nfc" -> Seq("'Cafe\u0301'"),
    "graft_nearest_seed" -> Seq("array(1.0D, 0.0D)",
      "array(struct(7L, array(1.0D, 0.0D)), struct(9L, array(0.0D, 1.0D)))"),
    "graft_canonical_url" -> Seq("'HTTP://Ex.TEST:80/a'"),
    "graft_registrable_domain" -> Seq("'news.site.co.uk'"),
    "graft_robots_allowed" ->
      Seq("'User-agent: *\nDisallow: /p\n'", "'bot'", "'/p/x'"),
    "graft_ngram_hist" -> Seq("'abcd'"),
    "graft_inter_union" -> Seq("array('a', 'b')", "array('b', 'c')"),
    "graft_pos_close" -> Seq("array(1L, 5L)", "array(3L)", "2L"),
    "graft_winnow_fp" -> Seq("'a b c d e f g h'"),
    "graft_hash32_distinct" -> Seq("array('a', 'b', 'a')"),
    "graft_hash32_sorted" -> Seq("array('a', 'b', 'a')"),
    "graft_hash32_sorted_distinct" -> Seq("array('a', 'b', 'a')"),
    "graft_lang_id" -> Seq("'the cat and the dog'"),
    "graft_cdc_chunks" -> Seq("'a b c d e f'"),
    "graft_fingerprint" -> Seq("'abc'"),
    "graft_coverage_stats" ->
      Seq("array(1L, 2L)", "array(2L)", "array(3L)", "array(4L)"),
    "graft_multiscale_windows" -> Seq("array('a', 'b', 'c')"),
    "graft_hashed_buckets" -> Seq("'a b'"),
    "graft_hashed_score" -> Seq("'a b'"),
    "graft_bloom_agg" -> Seq("xxhash64(1L)", "100L", "1024L"),
    // a column, not a literal, probe: the injected Spark expression
    // fails codegen on a constant probe value, and BloomGate always
    // probes a column
    "graft_bloom_might_contain" -> Seq(
      "(SELECT graft_bloom_agg(xxhash64(1L), 100L, 1024L))", "xxhash64(id)"),
    "graft_gram_matrix" -> Seq("array(1.0D, 2.0D)", "2"),
    "graft_mg_candidates" -> Seq("'a'", "4"))

  /** Entries whose unaliased column is not `<name>(...)`: Spark's own
    * Bloom expressions keep their pretty names, and the generator's
    * column is its element field, `shingle`.
    */
  private val ownNamed = Set(BloomGate.AggName, BloomGate.MightContainName,
    GraftFunctions.ShingleExplodeName)

  test("every specs entry resolves in SQL text on a fresh session at its " +
      "declared arity, and one argument more or fewer fails analysis") {
    assert(sampleArgs.map(_._1) == GraftFunctions.specs.map(_.name))
    val fresh = spark.newSession()
    fresh.conf.set("spark.sql.codegen.fallback", "false")
    for ((s, (_, args)) <- GraftFunctions.specs.zip(sampleArgs)) {
      assert(args.length == s.arity, s.name)
      def call(as: Seq[String]) =
        s"SELECT ${s.name}(${as.mkString(", ")}) FROM range(1)"
      val df = fresh.sql(call(args))
      val rows =
        try df.collect()
        catch { case t: Exception => fail(s"${call(args)} -> $t", t) }
      assert(rows.nonEmpty, call(args))
      if (!ownNamed(s.name))
        assert(df.columns.head.startsWith(s"${s.name}("),
          s"${call(args)} names its column ${df.columns.head}")
      val surplus = args :+ args.last
      val short = if (args.nonEmpty) Seq(args.init) else Nil
      for (wrong <- surplus +: short) {
        val e = intercept[Exception](fresh.sql(call(wrong)).collect())
        assert(e.getMessage.contains("argument"),
          s"${call(wrong)} -> ${e.getMessage}")
      }
    }
  }
}
