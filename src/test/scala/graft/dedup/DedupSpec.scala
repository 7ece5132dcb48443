package graft.dedup

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.similarity.Vectors
import graft.text.TextFunctions

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val near1 = "the quick brown fox jumps over the lazy dog near the old river bank today"
  private val near2 = "the quick brown fox jumps over the lazy dog near the old river bank tonight"
  private val far = "completely different content about spark shuffles and catalyst optimizer rules"

  private def docs = Seq((1L, near1), (2L, near2), (3L, far), (4L, near1))
    .toDF("doc_id", "text")

  test("exact dedup groups identical texts (doc 1 and 4)") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(groups.length == 3)
    val dup = groups.find(_.getLong(2) == 2).get
    assert(dup.getLong(1) == 1L) // keeper = min id
  }

  test("minhash signatures agree more for near-duplicates") {
    val sig = Dedup.withShingles(docs, "doc_id", "text")
      .select(col("doc_id") +: Dedup.minhashSignature(col("sh"), 8): _*)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    val agreeNear = sig(1L).zip(sig(2L)).count { case (a, b) => a == b }
    val agreeFar = sig(1L).zip(sig(3L)).count { case (a, b) => a == b }
    assert(sig(1L) == sig(4L)) // identical docs → identical signature
    assert(agreeNear > agreeFar)
    assert(agreeFar == 0)
  }

  test("LSH bands: identical docs collide, unrelated docs do not") {
    val sig = Dedup.withShingles(docs, "doc_id", "text")
      .select(col("doc_id") +: Dedup.minhashSignature(col("sh"), 8): _*)
    val bands = sig.select(col("doc_id"),
      posexplode(array(Dedup.bandValues((0 until 8).map(j => col(s"h$j"))): _*)))
      .toDF("doc_id", "bi", "bv")
    val pairs = bands.as("a").join(bands.as("b"),
        col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("custom MinHashSignatureExpr ≡ the HOF composition, bit for bit") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val viaExpr = Dedup.signatureFrame(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val viaHof = Dedup.withMinhashSignature(
      Dedup.withShingles(docs, "doc_id", "text"), "sh", 8)
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(viaExpr == viaHof)
  }

  test("MinHashBandsExpr ≡ bandValues over the signature frame, bit for bit") {
    val docsReal = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val viaSig = Dedup.signatureFrame(docsReal, "doc_id", "text")
      .select(col("doc_id"),
        array(Dedup.bandValues((0 until 8).map(j => col(s"h$j"))): _*).as("bands"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val viaExpr = Dedup.withShingles(docsReal, "doc_id", "text")
      .select(col("doc_id"),
        graft.functions.GraftFunctions.minhashBands(spark, col("sh")).as("bands"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(viaExpr == viaSig)
  }

  test("lshCandidatePairsFromShingles ≡ lshCandidatePairs on real docs") {
    val docsReal = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val viaText = Dedup.lshCandidatePairs(docsReal, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaShingles = Dedup.lshCandidatePairsFromShingles(
        Dedup.shingleFrame(docsReal, "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaShingles == viaText)
  }

  test("dupClusters resolves transitive components to min-id labels") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("a_id", "b_id")
    val got = Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("dupClusters: 1000-node chain converges via star contraction") {
    // a pure chain is the worst case for label propagation (would need
    // ~500 rounds); large-star/small-star must resolve it within the
    // default maxIter=30 (O(log² n)). dupClusters itself takes the
    // one-task route on a graph this small, so the rounds run directly.
    val chain = (0L until 999L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    for (got <- Seq(Dedup.roundsClusters(chain), Dedup.dupClusters(chain)).map(_.collect())) {
      assert(got.length == 1000)
      assert(got.forall(_.getLong(1) == 0L), got.filter(_.getLong(1) != 0L).take(5).toSeq)
    }
  }

  test("dupClusters releases superseded per-round checkpoints") {
    // each round localCheckpoints the new edge set; superseded rounds
    // must be unpersisted as they go (only the final round's blocks may
    // remain, since the returned frame reads them lazily)
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    // the rounds directly, and through dupClusters' rounds route (string
    // ids), which pins the pairs once more before the rounds start
    for (clusters <- Seq(() => Dedup.roundsClusters(chain),
        () => Dedup.dupClusters(chain.select(col("a_id").cast("string"),
          col("b_id").cast("string"))))) {
      val before = spark.sparkContext.getPersistentRDDs.size
      clusters().count()
      val after = spark.sparkContext.getPersistentRDDs.size
      // the lazily-read final star edges + node list may survive; the
      // per-round history and the input-pair checkpoints must not
      assert(after - before <= 2, s"leaked checkpoint RDDs: $before -> $after")
    }
  }

  test("dupClusters: reversed/duplicated/self pairs don't break labels") {
    val pairs = Seq((2L, 1L), (1L, 2L), (3L, 3L), (2L, 3L), (5L, 4L))
      .toDF("a_id", "b_id")
    val got = Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  test("incrementalClusters ≡ from-scratch across merge/extend/new cases") {
    // batch 1 settles {1,2,3}, {7,9}, {20,21}; batch 2 must MERGE two
    // settled clusters (3-7 bridge), EXTEND one (9-10), and CREATE a
    // fresh one (30-31) — while untouched {20,21} passes through
    val b1 = Seq((1L, 2L), (2L, 3L), (7L, 9L), (20L, 21L)).toDF("a_id", "b_id")
    val b2 = Seq((3L, 7L), (9L, 10L), (30L, 31L)).toDF("a_id", "b_id")
    val prev = Dedup.dupClusters(b1)
    val inc = Dedup.incrementalClusters(prev, b2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = Dedup.dupClusters(b1.union(b2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == scratch)
    assert(inc(10L) == 1L) // merged component takes the global minimum
    assert(inc(20L) == 20L && inc(21L) == 20L)
  }

  test("incrementalClusters leaves untouched clusters out of the recompute") {
    // settled forest: 500 two-node clusters; the batch touches ONE.
    // The contraction input must be O(touched), which we can observe
    // through the relabeled/untouched split: only cluster 0's members
    // plus the new node may change rows.
    val b1 = (0L until 1000L by 2).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val prev = Dedup.dupClusters(b1)
    val inc = Dedup.incrementalClusters(prev, Seq((1L, 2000L)).toDF("a_id", "b_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc.size == 1001)
    assert(inc(2000L) == 0L && inc(1L) == 0L && inc(0L) == 0L)
    assert((2L until 1000L by 2).forall(i => inc(i) == i && inc(i + 1) == i))
  }

  test("localClusters (one-task union-find) ≡ dupClusters on random " +
      "graphs incl. self-pairs and duplicate/reversed edges") {
    val rnd = new scala.util.Random(1234)
    for (trial <- 0 until 3) {
      val n = 400
      val pairs = (0 until 800).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong) // self-pairs too
      } ++ Seq((3000L, 3000L)) // isolated self-pair labels itself
      val df = pairs.toDF("a_id", "b_id")
      val fast = Dedup.localClusters(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val slow = Dedup.roundsClusters(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val routed = Dedup.dupClusters(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast == slow, s"trial $trial differs")
      assert(routed == slow, s"trial $trial differs through dupClusters")
    }
  }

  test("incrementalClusters falls back to distributed contraction on " +
      "non-long ids") {
    // string ids route around the union-find fast path; results must
    // still match the from-scratch labeling
    val b1 = Seq(("a", "b"), ("c", "d")).toDF("a_id", "b_id")
    val b2 = Seq(("b", "c")).toDF("a_id", "b_id")
    val inc = Dedup.incrementalClusters(Dedup.dupClusters(b1), b2)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val scratch = Dedup.roundsClusters(b1.union(b2))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(inc == scratch)
  }

  test("dupClusters ≡ roundsClusters on adversarial inputs, each on its route") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.get(0), r.get(1))).toSet
    val nullable = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, null), (null, 3L), (null, null), (4L, 5L))
    val cases = Seq(
      // null ids: the rounds label a null id null; getLong would throw
      "null ids" -> nullable.toDF("a_id", "b_id"),
      "self-pairs" -> Seq((1L, 1L), (2L, 2L), (2L, 3L), (9L, 9L)).toDF("a_id", "b_id"),
      "duplicate and reversed pairs" ->
        Seq((2L, 1L), (1L, 2L), (1L, 2L), (3L, 2L), (8L, 7L), (7L, 8L)).toDF("a_id", "b_id"),
      "int ids" -> Seq((1, 2), (3, 2), (5, 6)).toDF("a_id", "b_id"),
      "string ids" -> Seq(("b", "a"), ("c", "b"), ("x", "y")).toDF("a_id", "b_id"),
      // the verified-pair frame of a dedup pipeline carries its score
      "extra j column" -> Seq((2L, 1L, 0.9), (3L, 2L, 0.8), (6L, 5L, 1.0))
        .toDF("a_id", "b_id", "j"))
    for ((name, pairs) <- cases) {
      val routed = Dedup.dupClusters(pairs)
      val rounds = Dedup.roundsClusters(pairs)
      assert(rows(routed) == rows(rounds), name)
      // the one-task route emits longs: int and string ids kept their
      // type, so they took the rounds
      assert(routed.schema.map(_.dataType) == rounds.schema.map(_.dataType), name)
    }
    assert(rows(Dedup.dupClusters(cases.head._2)) ==
      Set((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L), (5L, 4L), (null, null)))
  }

  test("dupClusters contracts a small long-id graph in at most 3 jobs") {
    val sc = spark.sparkContext
    val chain = (0L until 999L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    def jobsOf(clusters: => org.apache.spark.sql.DataFrame): Int = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val counter = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      org.apache.spark.GraftBus.drain(sc)
      sc.addSparkListener(counter)
      try {
        clusters.collect()
        org.apache.spark.GraftBus.drain(sc)
      } finally sc.removeSparkListener(counter)
      jobs.get
    }
    val routed = jobsOf(Dedup.dupClusters(chain))
    val rounds = jobsOf(Dedup.roundsClusters(chain))
    assert(routed <= 3, s"dupClusters ran $routed jobs")
    assert(rounds > routed, s"the rounds ran $rounds jobs, the one-task route $routed")
  }

  test("SimHashExpr ≡ the HOF simhash32, bit for bit") {
    val docsReal = spark.read.parquet(s"$sfDir/documents.parquet")
    val got = docsReal.select(
      graft.functions.SimHash(spark, col("text")).as("fast"),
      Dedup.simhash32(TextFunctions.words(col("text"))).as("hof"))
    assert(got.filter(col("fast") =!= col("hof")).count() == 0)
  }

  test("simhash hamming distance: near < far") {
    val sh = docs.select(col("doc_id"),
      Dedup.simhash32(TextFunctions.words(col("text"))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(4L)) == 0)
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)))
  }

  test("JaccardExpr ≡ array_intersect/array_union composition") {
    val withSh = Dedup.withShingles(docs, "doc_id", "text")
    val a = withSh.toDF("a_id", "a_sh")
    val b = withSh.toDF("b_id", "b_sh")
    val both = a.join(b, col("a_id") <= col("b_id"))
      .select(Dedup.jaccard(col("a_sh"), col("b_sh")).as("hof"),
        graft.functions.Jaccard(spark, col("a_sh"), col("b_sh")).as("fast"))
    assert(both.filter(col("hof") =!= col("fast")).count() == 0)
  }

  test("jaccard: identity 1.0, near-dup high, unrelated low") {
    val withSh = Dedup.withShingles(docs, "doc_id", "text")
    val a = withSh.toDF("a_id", "a_sh")
    val b = withSh.toDF("b_id", "b_sh")
    val j = a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), Dedup.jaccard(col("a_sh"), col("b_sh")).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 4L)) == 1.0)
    assert(j((1L, 2L)) > 0.8)
    assert(j((1L, 3L)) == 0.0)
  }

  private def bruteEd(rows: Seq[(Long, String)], dMax: Int): Set[(Long, Long, Long)] =
    (for {
      (ia, sa) <- rows; (ib, sb) <- rows if ia < ib
      d = {
        // classic DP, the test's independent referee
        val (m, n) = (sa.length, sb.length)
        val dp = Array.tabulate(m + 1)(i => Array.tabulate(n + 1)(j =>
          if (i == 0) j else if (j == 0) i else 0))
        for (i <- 1 to m; j <- 1 to n)
          dp(i)(j) = math.min(math.min(dp(i - 1)(j), dp(i)(j - 1)) + 1,
            dp(i - 1)(j - 1) + (if (sa(i - 1) == sb(j - 1)) 0 else 1))
        dp(m)(n)
      } if d <= dMax
    } yield (ia, ib, d.toLong)).toSet

  private def gatedEd(rows: Seq[(Long, String)], dMax: Int): Set[(Long, Long, Long)] =
    Dedup.editDistancePairs(rows.toDF("doc_id", "p"), "doc_id", "p", dMax = dMax)
      .as[(Long, Long, Long)].collect().toSet

  test("editDistancePairs: exact recall on adversarial plants") {
    val base = "the quick brown fox jump" // 24 chars
    val rows = Seq(
      1L -> base,
      2L -> "tha quick brawn fox jamp", // 3 substitutions, scattered
      3L -> "the quick brown fox jump".reverse,
      4L -> "a" * 24, // degenerate gram set {aa}: count bound vacuous
      5L -> ("a" * 11 + "b" + "a" * 5 + "c" + "a" * 5 + "d"), // 3 edits of 4
      6L -> "ab" * 12, // two-gram alphabet
      7L -> ("ab" * 5 + "ba" + "ab" * 6).take(24), // near 6
      8L -> "completely different txt", // unrelated
      9L -> base // exact dup of 1
    )
    val got = gatedEd(rows, 3)
    assert(got == bruteEd(rows, 3))
    assert(got.contains((1L, 2L, 3L)))
    assert(got.contains((4L, 5L, 3L)))
    assert(got.contains((1L, 9L, 0L)))
  }

  test("editDistancePairs: variable-length and short strings keep recall") {
    val rows = Seq(
      1L -> "ab", 2L -> "ba", // short: gram sets disjoint, gate must block-pair
      3L -> "x", 4L -> "", // extreme shorts
      5L -> "hello world hello planet met", // 28
      6L -> "hello world hello planet", // 24: len diff 4 vs id 5 -> not a pair
      7L -> "hello world hello plane", // 23: ed(5,7)=5, ed(6,7)=1
      8L -> "short str", 9L -> "shirt str" // 9 chars, 1 sub, below lMin=11
    )
    val got = gatedEd(rows, 3)
    assert(got == bruteEd(rows, 3))
    assert(got.contains((1L, 2L, 2L)))
    assert(got.contains((8L, 9L, 1L)))
    assert(got.contains((6L, 7L, 1L)))
  }

  test("setSimilarityPairs: exact recall vs brute-force referee") {
    def shingles(s: String): Set[String] =
      s.split("\\s+").sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    val rows = Seq(
      1L -> "alpha beta gamma delta epsilon zeta", // base
      2L -> "alpha beta gamma delta epsilon zeta", // J=1 twin
      3L -> "alpha beta gamma delta epsilon eta", // high-J variant
      4L -> "alpha beta gamma x y z", // shares only the common head
      5L -> "p q r s t u v w", // unrelated
      6L -> "p q r s t u v w x", // superset of 5: J = 6/7
      7L -> "one two", // < 3 words: empty shingle set, must drop out
      8L -> "alpha beta gamma delta", // J(1,8) = 2/4 = exactly t=1/2
      9L -> "m n o m n o m n o" // repeated text: distinct-set semantics
    )
    // referee: all-pairs Jaccard, same rational comparison (2*|∩| >= |∪|)
    val brute = (for {
      (ia, sa) <- rows; (ib, sb) <- rows if ia < ib
      (ha, hb) = (shingles(sa), shingles(sb)) if ha.nonEmpty && hb.nonEmpty
      (i, u) = ((ha & hb).size, (ha | hb).size) if i * 2 >= u
    } yield (ia, ib, i.toDouble / u)).toSet
    val got = Dedup.setSimilarityPairs(rows.toDF("doc_id", "text"),
        "doc_id", "text", tNum = 1, tDen = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == brute)
    assert(got.contains((1L, 2L, 1.0)))
    assert(got.exists { case (a, b, j) => a == 1L && b == 8L && j == 0.5 }) // boundary pair kept
    assert(!got.exists { case (a, b, _) => a == 4L || b == 4L }) // below t excluded
  }

  test("setSimilarityPairsRS: cross-relation recall vs brute-force referee") {
    def shingles(s: String): Set[String] =
      s.split("\\s+").sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    // probe = eval docs, corpus = train docs; the planted contamination
    // pair (101, 1) only shares elements RARE IN THE PROBE but common in
    // the corpus — a probe-only df order would likely still find it, but
    // a corpus-only order computed without probe elements breaks ties
    // differently; the union order is what the lemma licenses.
    val corpus = Seq(
      1L -> "alpha beta gamma delta epsilon zeta",
      2L -> "p q r s t u v w",
      3L -> "alpha beta gamma x y z",
      4L -> "one two", // empty shingle set, must drop out
      5L -> "m n o m n o m n o")
    val probe = Seq(
      101L -> "alpha beta gamma delta epsilon zeta", // J=1 with corpus 1
      102L -> "alpha beta gamma delta epsilon eta", // high-J with corpus 1
      103L -> "completely different eval text here now", // no match
      104L -> "p q r s t u v w x") // J = 6/7 with corpus 2
    val brute = (for {
      (ia, sa) <- probe; (ib, sb) <- corpus
      (ha, hb) = (shingles(sa), shingles(sb)) if ha.nonEmpty && hb.nonEmpty
      (i, u) = ((ha & hb).size, (ha | hb).size) if i * 2 >= u
    } yield (ia, ib, i.toDouble / u)).toSet
    val got = Dedup.setSimilarityPairsRS(
        probe.toDF("doc_id", "text"), corpus.toDF("doc_id", "text"),
        "doc_id", "text", tNum = 1, tDen = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == brute)
    assert(got.contains((101L, 1L, 1.0)))
    assert(got.exists { case (a, b, _) => a == 104L && b == 2L })
    assert(!got.exists { case (a, _, _) => a == 103L })
    // direction check: pairs are (probe, corpus), never within a relation
    assert(got.forall { case (a, b, _) => a >= 101L && b < 101L })
  }

  test("BloomGate: no false negatives, bounded sketch, exact gated dedup") {
    import graft.functions.BloomGate
    val corpus = (1L to 200L).map(i => (i, s"corpus document number $i"))
      .toDF("doc_id", "text")
    val batch = ((1L to 50L).map(i => (1000L + i, s"corpus document number $i")) ++ // dups
      (1L to 50L).map(i => (2000L + i, s"novel document number $i")))
      .toDF("doc_id", "text")
    val numBits = 1L << 16
    val sk = BloomGate.sketch(corpus, Dedup.digest(col("text")), 1000L, numBits)
    // bounded: bit array + small header, regardless of corpus size
    // (the frame is lazy; this head() is the spec's own bound check,
    // not part of the production probe path, which consumes the sketch
    // as a scalar subquery without ever collecting it)
    val skBytes = sk.head().getAs[Array[Byte]](0)
    assert(skBytes.length <= numBits / 8 + 64, s"sketch ${skBytes.length} bytes")
    val mc = BloomGate.mightContain(sk, Dedup.digest(col("text")), tag = "spec")
    // Bloom guarantee: every true dup is positive (false negatives would
    // silently drop dups from the exact verify and break exactness)
    val negatives = batch.filter(!mc).select("doc_id").as[Long].collect().toSet
    assert(negatives.forall(_ >= 2000L), s"false negative among dups: $negatives")
    // end-to-end gated dedup equals the exact referee
    val suspects = batch.filter(mc)
      .select(col("doc_id"), Dedup.digest(col("text")).as("h"))
    val novel = batch.filter(!mc).select("doc_id").union(
        suspects.join(corpus.select(Dedup.digest(col("text")).as("h")),
          Seq("h"), "left_anti").select("doc_id"))
      .as[Long].collect().toSet
    assert(novel == (2001L to 2050L).toSet)
  }
}

class VectorsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine: self-similarity 1.0, orthogonal 0.0") {
    val df = Seq(
      (1L, Array(1.0, 0.0, 0.0)), (2L, Array(0.0, 1.0, 0.0)),
      (3L, Array(2.0, 0.0, 0.0))).toDF("id", "v")
    val a = df.toDF("a_id", "a")
    val b = df.toDF("b_id", "b")
    val cos = a.join(b)
      .select(col("a_id"), col("b_id"), Vectors.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(cos((1L, 1L)) - 1.0) < 1e-12)
    assert(math.abs(cos((1L, 3L)) - 1.0) < 1e-12)
    assert(math.abs(cos((1L, 2L))) < 1e-12)
  }

  test("LshBucketExpr ≡ the HOF lshBucket, bit for bit") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val got = emb.select(
      graft.functions.LshBucket(spark, col("e")).as("fast"),
      Vectors.lshBucket(col("e"), 8).as("hof"))
    assert(got.filter(col("fast") =!= col("hof")).count() == 0)
  }

  test("LSH ANN finds planted near-duplicate vectors") {
    // 40 deterministic base vectors; ids 1000+i are tiny perturbations of
    // base i (cosine ≈ 0.9999) — a real near-dup workload, unlike the
    // uncorrelated random corpus.
    val rnd = new scala.util.Random(7)
    val base = (0 until 40).map(i => i.toLong -> Array.fill(64)(rnd.nextGaussian()))
    val planted = base.map { case (i, v) =>
      (1000L + i) -> v.map(_ + rnd.nextGaussian() * 0.01)
    }
    val emb = (base ++ planted).toDF("vec_id", "e")
      .withColumn("bucket", Vectors.lshBucket(col("e"), 8))
    val queries = emb.filter(col("vec_id") < 1000).toDF("q_id", "qe", "qb")
    val cands = emb.filter(col("vec_id") >= 1000).toDF("n_id", "ne", "nb")
    val lshTop1 = queries.join(cands,
        col("qb") === col("nb") && col("q_id") =!= col("n_id"))
      .withColumn("cos", Vectors.cosine(col("qe"), col("ne")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("n_id"))))
      .filter(col("rn") === 1)
      .select("q_id", "n_id").as[(Long, Long)].collect().toMap
    val hits = (0 until 40).count(i => lshTop1.get(i.toLong).contains(1000L + i))
    // a 0.01-noise twin flips any of 8 hyperplane signs only rarely
    assert(hits >= 30, s"planted-twin recall too low: $hits/40")
  }

}
