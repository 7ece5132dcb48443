package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Pipeline

/** Property tests for the training-pipeline curation operators (q92-q99)
  * — semantic invariants the oracle hash-compare can't express.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def q(name: String) =
    Pipeline.qs.find(_.name == name).get.run(spark, sfDir)

  test("contamination: an eval doc duplicated in train scores 1.0") {
    // doc_id % 10 == 0 is the eval split; the synthetic corpus has exact
    // duplicates across splits iff any eval doc's shingles all appear in
    // train. Build the invariant directly: planted frame.
    val docs = Seq(
      (10L, "a b c d e f g h i j k l"), // eval, exact copy of 3
      (3L, "a b c d e f g h i j k l"), // train
      (20L, "zz yy xx ww vv uu tt ss rr qq pp oo"), // eval, novel
      (5L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"),
      explode(TextFunctions.shingleSet(col("text"))).as("s"))
      .select(col("doc_id"), graft.ops.Hashing.hash32(col("s")).as("h"))
    val train = sh.filter(col("doc_id") % 10 =!= 0).select("h").distinct()
      .withColumn("hit", lit(1))
    val got = sh.filter(col("doc_id") % 10 === 0)
      .join(train, Seq("h"), "left")
      .groupBy("doc_id")
      .agg((sum(coalesce(col("hit"), lit(0))).cast("double") /
        count(lit(1))).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(10L) == 1.0)
    assert(got(20L) == 0.0)
  }

  test("pii redaction leaves no email/phone matches behind") {
    val red = q("q93_pii_redact")
    assert(red.filter(col("n_email") === 0 || col("n_phone") === 0).count() == 0)
    // re-scan the redacted text itself: rebuild it the same way and check
    val aug = concat(col("text"), lit(" contact user"),
      col("doc_id").cast("string"), lit("@example.com ph 415-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "\\d{3}-\\d{3}-\\d{4}"
    val residue = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(regexp_replace(regexp_replace(aug, emailRe, "<EMAIL>"),
        phoneRe, "<PHONE>").as("t"))
      .filter(col("t").rlike(emailRe) || col("t").rlike(phoneRe))
    assert(residue.count() == 0)
  }

  test("cluster split: no near-dup cluster straddles two splits") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val labels = graft.dedup.Dedup.dupClusters(
      graft.dedup.Dedup.lshCandidatePairs(docs, "doc_id", "text"))
    val h = graft.ops.Hashing.hash32(concat(lit("split:"),
      col("cluster_id").cast("string"))) % 100
    val perCluster = labels
      .withColumn("split",
        when(h < 80, "train").when(h < 90, "val").otherwise("test"))
      .groupBy("cluster_id").agg(countDistinct("split").as("n"))
    assert(perCluster.filter(col("n") =!= 1).count() == 0)
    // and the three splits cover all docs exactly once
    val total = q("q95_cluster_split").agg(sum("n_docs")).head().getLong(0)
    assert(total == docs.count())
  }

  test("mixture sample rates land near their basis-point targets") {
    val got = q("q96_mixture_sample")
      .withColumn("idx", substring(col("source"), 4, 10).cast("int") % 4)
      .groupBy("idx")
      .agg(sum("n_sampled").as("s"), sum("n_total").as("t"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val target = Map(0 -> 0.8, 1 -> 0.4, 2 -> 0.2, 3 -> 0.1)
    got.foreach { case (idx, (s, t)) =>
      val rate = s.toDouble / t
      assert(math.abs(rate - target(idx)) < 0.15,
        s"source class $idx sampled at $rate, want ~${target(idx)}")
    }
  }

  test("int8 quantization error is within the scalar-quantization bound") {
    // per-element reconstruction error <= 0.5/scale, so per VECTOR
    // err_l2 <= sqrt(64)*0.5/scale = 4/scale — checked per vector (an
    // average-vs-average comparison would be loosened by Jensen)
    val v = col("embedding").cast("array<double>")
    val m = array_max(transform(v, x => abs(x)))
    val scale = lit(127.0) / m
    val err = sqrt(aggregate(v, lit(0.0),
      (acc, x) => acc +
        (x - floor(x * scale + 0.5) / scale) *
        (x - floor(x * scale + 0.5) / scale)))
    val bad = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(err.as("err_l2"), (lit(4.0) / scale).as("bound"))
      .filter(col("err_l2") > col("bound") || col("err_l2") < 0.0)
    assert(bad.count() == 0)
    // and the aggregated audit itself reports strictly positive error
    assert(q("q97_int8_quantize").filter(col("avg_err_l2") <= 0.0).count() == 0)
  }

  test("length buckets: fill bounded and packs hold every doc") {
    val b = q("q98_length_buckets").collect()
    assert(b.nonEmpty)
    b.foreach { r =>
      // `bucket` is the per-doc token upper bound for its rows. When
      // bucket <= 512 the greedy cumsum can never skip a 512-block, so
      // fill <= 1.0 exactly; a doc longer than the pack size (possible
      // on other corpora) straddles blocks and fill may exceed 1.0, but
      // never bucket/512 (the worst single-doc overshoot).
      val cap = math.max(1.0, r.getAs[Long]("bucket").toDouble / 512.0)
      assert(r.getAs[Double]("fill") <= cap && r.getAs[Double]("fill") > 0.0)
      assert(r.getAs[Long]("n_packs") >= 1L)
    }
    val totalDocs = b.map(_.getAs[Long]("n_docs")).sum
    assert(totalDocs ==
      spark.read.parquet(s"$sfDir/documents.parquet").count())
  }

  test("quantized dot tracks the exact dot within the quantization bound") {
    val v = col("embedding").cast("array<double>")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), v.as("v"),
        array_max(transform(v, x => abs(x))).as("m"))
      .select(col("vec_id"), col("v"), (lit(127.0) / col("m")).as("s"),
        transform(col("v"),
          x => floor(x * (lit(127.0) / col("m")) + 0.5).cast("long")).as("qv"))
    val a = emb.filter(col("vec_id") < 20).toDF("q_id", "qa", "sa", "qqa")
    val b = emb.toDF("n_id", "qb", "sb", "qqb")
    def fold(c: org.apache.spark.sql.Column) =
      aggregate(c, lit(0.0), (acc, e) => acc + e)
    val diff = a.join(b, col("q_id") =!= col("n_id"))
      .select((abs(
        aggregate(zip_with(col("qqa"), col("qqb"), (x, y) => x * y),
          lit(0L), (acc, e) => acc + e).cast("double") / (col("sa") * col("sb")) -
        fold(zip_with(col("qa"), col("qb"), (x, y) => x * y)))).as("d"))
      .agg(max(col("d"))).head().getDouble(0)
    assert(diff < 0.05, s"max quantization dot error $diff")
  }

  test("chunk dedup: kept <= total, and a planted duplicate chunk drops") {
    val audit = q("q99_chunk_dedup")
    assert(audit.filter(col("n_kept") > col("n_chunks")).count() == 0)
    // exact-duplicate documents keep zero chunks for the later doc_id
    val dups = spark.read.parquet(s"$sfDir/documents.parquet").as("a")
      .join(spark.read.parquet(s"$sfDir/documents.parquet").as("b"),
        col("a.text") === col("b.text") && col("a.doc_id") < col("b.doc_id"))
      .select(col("b.doc_id").as("doc_id")).distinct()
    val laterCopies = audit.join(dups, "doc_id")
    if (laterCopies.count() > 0) {
      assert(laterCopies.filter(col("n_kept") =!= 0).count() == 0)
    }
  }

  test("intradoc dup fraction: planted repetition flagged, bounds hold") {
    val out = q("q116_intradoc_dup_fraction")
    assert(out.filter(col("n_distinct") > col("n_windows")).count() == 0)
    assert(out.filter(col("dup_fraction") < 0 || col("dup_fraction") > 1)
      .count() == 0)
    // planted: a doc that is one 8-word phrase repeated 5x has 33
    // windows but only 8 distinct (the phrase cycle) -> flagged
    val planted = Seq((1L, Seq.fill(5)("a b c d e f g h").mkString(" ")))
      .toDF("doc_id", "text")
    val hs = transform(
      sequence(lit(1), size(col("ws")) - 7),
      i => graft.ops.Hashing.hash32(concat_ws(" ", slice(col("ws"), i, lit(8)))))
    val r = planted.select(col("doc_id"), split(col("text"), "\\s+").as("ws"))
      .select(size(col("ws")).as("n"),
        size(array_distinct(hs)).as("nd"))
      .head()
    assert(r.getInt(0) - 7 == 33 && r.getInt(1) == 8)
  }

  test("shard manifest: shards partition the corpus exactly") {
    val m = q("q117_shard_manifest").collect()
    assert(m.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 64))
    val totalDocs = m.map(_.getLong(1)).sum
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet").count()
    assert(totalDocs == corpus, s"$totalDocs != $corpus")
  }

  test("bm25: exactly 10 ranked rows, scores positive and descending") {
    val rows = q("q112_bm25_topk").collect()
    assert(rows.length == 10)
    assert(rows.map(_.getLong(2)).toSeq == (1L to 10L))
    val scores = rows.map(_.getDouble(1)).toSeq
    assert(scores.forall(_ > 0.0))
    assert(scores == scores.sorted.reverse)
  }

  test("chunker: full token coverage, correct widths and overlap") {
    val chunks = q("q113_chunk_overlap")
    val dl = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), "\\s+")).as("dl"))
    val per = chunks.groupBy("doc_id")
      .agg(min("start").as("first_start"),
        max(col("start") + col("n_tokens") - 1).as("last_end"),
        count(lit(1)).as("n_chunks"),
        max("n_tokens").as("max_w"))
      .join(dl, "doc_id")
    // every doc chunked from token 1 through its last token, no chunk
    // wider than the window, count matches 1 + ceil(max(0, dl-32)/24)
    assert(per.filter(col("first_start") =!= 1).count() == 0)
    assert(per.filter(col("last_end") =!= col("dl")).count() == 0)
    assert(per.filter(col("max_w") > 32).count() == 0)
    assert(per.filter(col("n_chunks") =!=
      (lit(1) + floor((greatest(col("dl") - 32, lit(0)) + 23) / 24)))
      .count() == 0)
  }
}
