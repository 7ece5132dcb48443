// Dev tool: scale probe — replicates lineitem/documents by
// SPARK_GRAFT_MULT (comma list, e.g. "1,10,100") and, for each headline
// plan shape, reports wall time AND shuffle volume (bytes + records
// from graft.Meter). Wall time on local[32] conflates CPU contention;
// shuffle volume is the number that predicts 1000-executor
// behavior — a plan whose shuffle grows super-linearly in the multiplier
// is the one that dies at 100 TB.
package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Common._

object ScaleProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mults = sys.env.getOrElse("SPARK_GRAFT_MULT", "10")
      .split(",").map(_.trim.toInt).toSeq
    // unlike Bench (which reads each ~20 MB table as one split — faster
    // there), the probe MUST split the base tables: the replicated
    // frames inherit the scan's partitioning, and a single-split scan
    // would serialize the whole probe into one task, measuring nothing
    val spark = localSession("32", "spark.sql.files.maxPartitionBytes" -> "2m")
    val meter = new graft.Meter(spark).attach()

    def time(label: String)(f: => Long): Unit = {
      meter.take() // close the window on everything before this probe
      val t0 = System.nanoTime(); val n = f
      val secs = (System.nanoTime() - t0) / 1e9
      val shuffled = meter.take()
      val mb = shuffled.shuffleWriteBytes / 1e6
      val recs = shuffled.shuffleWriteRecords
      println(f"[scale] $label%-30s ${secs}%7.2f s  ${mb}%10.1f MB shuffled  ${recs}%12d rows shuffled  ($n rows out)")
    }

    // probe families: "core" (agg/join/window/topk/lsh), "pipeline"
    // (curation ops added round 3), "cc", "r4" (bloom gate, capped
    // edit blocks, incremental cc), "r5" (bm25, semdedup, chunker), or
    // "all"
    val fam = sys.env.getOrElse("SPARK_GRAFT_PROBES", "all")
    require(Set("all", "core", "pipeline", "cc", "r4", "r5", "r6", "r7", "r8", "r9", "r10", "r11", "r12", "r13", "r14", "r15", "r16", "r17", "r18", "r19", "r20", "r21", "r22", "r23", "r24", "r25")(fam),
      s"SPARK_GRAFT_PROBES=$fam — valid families: all, core, pipeline, cc, r4, r5, r6, r7, r8, r9, r10, r11, r12, r13, r14, r15, r16, r17, r18, r19, r20, r21, r22, r23, r24, r25")
    val doCore = fam == "all" || fam == "core"
    val doPipe = fam == "all" || fam == "pipeline"
    val doCC = fam == "all" || fam == "cc"
    val doR4 = fam == "all" || fam == "r4"
    val doR5 = fam == "all" || fam == "r5"
    val doR6 = fam == "all" || fam == "r6"
    val doR7 = fam == "all" || fam == "r7"
    val doR8 = fam == "all" || fam == "r8"
    val doR9 = fam == "all" || fam == "r9"
    val doR10 = fam == "all" || fam == "r10"
    val doR11 = fam == "all" || fam == "r11"
    val doR12 = fam == "all" || fam == "r12"
    val doR13 = fam == "all" || fam == "r13"
    val doR14 = fam == "all" || fam == "r14"
    val doR15 = fam == "all" || fam == "r15"
    val doR16 = fam == "all" || fam == "r16"
    val doR17 = fam == "all" || fam == "r17"
    val doR18 = fam == "all" || fam == "r18"
    val doR19 = fam == "all" || fam == "r19"
    val doR20 = fam == "all" || fam == "r20"
    val doR21 = fam == "all" || fam == "r21"
    val doR22 = fam == "all" || fam == "r22"
    val doR23 = fam == "all" || fam == "r23"
    val doR24 = fam == "all" || fam == "r24"
    val doR25 = fam == "all" || fam == "r25"

    for (mult <- mults) {
      println(s"[scale] ===== multiplier ${mult}x over $sfDir =====")
      val li = table(spark, sfDir, "lineitem")
      val liX = li.crossJoin(spark.range(mult).select(col("id").as("rep")))
      val ord = table(spark, sfDir, "orders")
      liX.count() // warm

      if (doCore) {
      time(s"q01-shape agg @${mult}x") {
        liX.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6),
            count(lit(1))).count()
      }
      time(s"q03-shape join+agg @${mult}x") {
        liX.join(ord, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(dsum(col("l_extendedprice"), 6), count(lit(1))).count()
      }
      time(s"window rank @${mult}x") {
        val w = Window.partitionBy(col("l_suppkey"), col("rep"))
          .orderBy(col("l_extendedprice").desc)
        liX.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).count()
      }
      time(s"topk heap op @${mult}x") {
        graft.plans.TopK.perGroup(
          liX.select("l_suppkey", "rep", "l_orderkey", "l_linenumber", "l_extendedprice"),
          Seq("l_suppkey", "rep"),
          Seq(("l_extendedprice", false), ("l_orderkey", true), ("l_linenumber", true)),
          3).count()
      }
      }

      val docs = table(spark, sfDir, "documents")
      val docsX = docs.crossJoin(spark.range(mult).select(col("id").as("rep")))
        .select((col("doc_id") * mult + col("rep")).as("doc_id"), col("text"),
          col("rep"))
      if (doCore) {
      time(s"minhash signatures @${mult}x") {
        // aggregate over a signature column so column pruning cannot skip
        // the computation (a bare count() would)
        graft.dedup.Dedup.signatureFrame(docsX.drop("rep"), "doc_id", "text")
          .agg(min(col("h0")), max(col("h7"))).count()
      }
      time(s"lsh candidate pairs @${mult}x") {
        // decorrelate replicas: inject a rep-specific token between every
        // word so every shingle differs across reps — otherwise each
        // replica of a dup cluster collides with every other replica and
        // the synthetic pair count grows O(mult²) by construction, which
        // measures the generator, not the operator. Within a rep, true
        // dups stay dups (identical transform), so dup structure scales
        // linearly like a real corpus.
        val decorr = docsX.select(col("doc_id"),
          regexp_replace(col("text"), lit(" "),
            concat(lit(" w"), col("rep"), lit(" "))).as("text"))
        graft.dedup.Dedup.lshCandidatePairs(decorr, "doc_id", "text").count()
      }
      time(s"lsh pairs capped@1000 @${mult}x") {
        // skew-guarded variant: band buckets are heavy-tailed (hot
        // buckets from very common shingles), and dropping buckets over
        // 1000 docs removes the O(size²) non-discriminative pairs — the
        // production configuration at corpus scale
        val decorr = docsX.select(col("doc_id"),
          regexp_replace(col("text"), lit(" "),
            concat(lit(" w"), col("rep"), lit(" "))).as("text"))
        graft.dedup.Dedup.lshCandidatePairs(decorr, "doc_id", "text",
          maxBucket = 1000).count()
      }
      }

      if (doPipe) {
      time(s"contamination probe @${mult}x") {
        // q92 shape (incl. the streaming shingle Generator q92 ships
        // with): only 8-byte shingle hashes shuffle; the train side
        // reduces to a distinct hash set before the probe join
        val sh = docsX.select(col("doc_id"),
          graft.functions.GraftFunctions.explodeShingles(spark, col("text")))
          .select(col("doc_id"), hash32(col("shingle")).as("h"))
        val train = sh.filter(col("doc_id") % 10 =!= 0).select("h").distinct()
          .withColumn("hit", lit(1))
        sh.filter(col("doc_id") % 10 === 0).join(train, Seq("h"), "left")
          .groupBy("doc_id")
          .agg(sum(coalesce(col("hit"), lit(0)))).count()
      }
      time(s"chunk dedup @${mult}x") {
        // q99 shape on decorrelated replicas (so the keeper structure
        // scales like a real corpus): chunk hash → min-struct keeper →
        // probe join; shuffle carries (hash, id, pos) triples only
        val decorr = docsX.select(col("doc_id"),
          regexp_replace(col("text"), lit(" "),
            concat(lit(" w"), col("rep"), lit(" "))).as("text"))
        val ws = split(col("text"), "\\s+")
        val ch = decorr.select(col("doc_id"), posexplode(
          transform(sequence(lit(1), size(ws), lit(10)),
            i => concat_ws(" ", slice(ws, i, lit(10))))))
          .select(col("doc_id"), (col("pos") * 10 + 1).cast("long").as("pos"),
            hash32(col("col")).as("h"))
        val keep = ch.groupBy("h")
          .agg(min(struct(col("doc_id"), col("pos"))).as("k"))
        ch.join(keep, Seq("h"))
          .groupBy("doc_id")
          .agg(sum(when(col("k.doc_id") === col("doc_id") &&
            col("k.pos") === col("pos"), 1L).otherwise(0L))).count()
      }
      time(s"unigram lm score @${mult}x") {
        // q100 shape: word counts aggregate map-side; scoring joins on
        // the word; the only broadcast is the 1-row totals frame
        val u = docsX.select(col("doc_id"),
          explode(split(col("text"), "\\s+")).as("w"))
        val train = u.filter(col("doc_id") % 10 =!= 0)
        val cnt = train.groupBy("w").agg(count(lit(1)).as("c"))
        val tot = train.agg(count(lit(1)).as("n"), countDistinct("w").as("v"))
        u.filter(col("doc_id") % 10 === 0)
          .join(cnt, Seq("w"), "left")
          .crossJoin(broadcast(tot))
          .select(col("doc_id"),
            log((coalesce(col("c"), lit(0L)) + 1).cast("double") /
              (col("n") + col("v"))).cast("decimal(30,12)").as("lp"))
          .groupBy("doc_id").agg(sum(col("lp"))).count()
      }
      }

      if (doR4) {
      // --- Bloom anti-corpus gate (q107 shape) vs the plain anti-join.
      // The cluster-predictive read: the plain path shuffles EVERY batch
      // row (payload included) into the join; the gated path shuffles
      // only bloom-positive suspects. The sketch-build shuffle is
      // mult-independent (32 map partials × numBits/8 bytes).
      val store = docsX.select(col("text"))
      val batchX = docsX.select(col("doc_id"),
        when(col("doc_id") % 7 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" v2"), col("rep"))).as("text"))
      time(s"plain anti-join dedup @${mult}x") {
        batchX
          .select(col("doc_id"), col("text"),
            graft.dedup.Dedup.digest(col("text")).as("h"))
          .join(store.select(graft.dedup.Dedup.digest(col("text")).as("h")),
            Seq("h"), "left_anti")
          .select(col("doc_id"), col("text")).count()
      }
      time(s"bloom-gated dedup @${mult}x") {
        val sk = graft.functions.BloomGate.sketch(store,
          graft.dedup.Dedup.digest(col("text")), 1000000L, 1L << 23)
        val mc = graft.functions.BloomGate.mightContain(sk,
          graft.dedup.Dedup.digest(col("text")), tag = s"probe$mult")
        val clear = batchX.filter(!mc)
        val suspects = batchX.filter(mc)
          .select(col("doc_id"), col("text"),
            graft.dedup.Dedup.digest(col("text")).as("h"))
          .join(store.select(graft.dedup.Dedup.digest(col("text")).as("h")),
            Seq("h"), "left_anti")
          .select(col("doc_id"), col("text"))
        clear.unionByName(suspects).count()
      }
      // --- q63 shape with the per-block cap: replicas share prefixes,
      // so uncapped blocks grow ×mult and pairs ×mult² (2e9 pairs at
      // 100× — unrunnable, which is the point); the cap bounds every
      // block at 256·255/2 pairs regardless of corpus size.
      time(s"edit blocks capped@256 @${mult}x") {
        val blocked = docsX
          .select(col("doc_id"), substring(col("text"), 1, 24).as("p"),
            substring(col("text"), 1, 4).as("blk"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("blk").orderBy("doc_id")))
          .filter(col("rn") <= 256)
        val a = blocked.select(col("doc_id").as("a_id"), col("p").as("a_p"), col("blk"))
        val b = blocked.select(col("doc_id").as("b_id"), col("p").as("b_p"), col("blk"))
        a.join(b.hint("merge"), Seq("blk")).filter(col("a_id") < col("b_id"))
          .select(levenshtein(col("a_p"), col("b_p"))).count()
      }
      // --- incremental CC over a settled forest that grows ×mult while
      // the incoming batch stays FIXED: wall/shuffle must track the
      // batch, not the forest (untouched labels pass through a
      // broadcast anti-join, never shuffled).
      time(s"incremental cc: ${100 * mult}k settled, 100-edge batch") {
        val n = 100000L * mult
        val prev = spark.range(n).select(col("id").as("doc_id"),
          (col("id") - col("id") % 2).as("cluster_id"))
        val batch = spark.range(100)
          .select((col("id") * 20 + 1).as("a_id"), (col("id") * 20 + 2).as("b_id"))
        graft.dedup.Dedup.incrementalClusters(prev, batch).count()
      }
      }

      if (doR5) {
      // --- BM25 (q112 shape): the postings stream is filtered to the
      // query vocabulary before the tf aggregation, so shuffle rows ≈
      // Σ df(query terms), never corpus tokens. The "naive" contrast
      // row filters AFTER the aggregation — and measures the SAME
      // shuffle, because Catalyst pushes a group-key predicate below
      // the aggregate: the declarative plan is safe either way (the
      // probe exists to catch a regression in that pushdown).
      val qterms = Seq("spark", "window", "hash")
      time(s"bm25 postings filtered @${mult}x") {
        docsX.select(col("doc_id"), explode(split(col("text"), "\\s+")).as("term"))
          .filter(col("term").isin(qterms: _*))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")).count()
      }
      time(s"bm25 naive full-vocab tf @${mult}x") {
        docsX.select(col("doc_id"), explode(split(col("text"), "\\s+")).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
          .filter(col("term").isin(qterms: _*)).count()
      }
      // --- SemDeDup (q115 shape): in-row argmin assignment is
      // zero-shuffle at every mult; pair work is Σ cluster². With k
      // FIXED the clusters grow ×mult and pairs ×mult² (the documented
      // hazard); the production configuration scales k WITH the corpus
      // so per-cluster size — and the pair join — stays bounded. The
      // scaled-k row's WALL grows with k×corpus (the interpreted
      // higher-order argmin: at k beyond ~1e3 production assignment
      // moves to the q57 IVF coarse-quantizer shape); the
      // cluster-predictive numbers are the pair count and the
      // near-zero shuffle, which is why both are metered.
      val emb = table(spark, sfDir, "embeddings")
      val embX = emb.crossJoin(spark.range(mult).select(col("id").as("rep")))
        .select((col("vec_id") * mult + col("rep")).as("vec_id"),
          // decorrelate replicas: nudge one dimension by a rep-specific
          // delta so replicas don't sit at distance 0 from each other
          transform(col("embedding").cast("array<double>"),
            (x, i) => x + when(i === 0, col("rep").cast("double") * 0.01)
              .otherwise(lit(0.0))).as("e"))
      def semdedupPairs(k: Int): Long = {
        val seedArr = embX.filter(col("vec_id") < k)
          .agg(sort_array(collect_list(struct(col("vec_id").as("sid"),
            col("e").as("se")))).as("seeds"))
        // codegen'd argmin kernel (NearestSeedExpr) — the interpreted
        // HOF version of this assignment was wall-bound at k=800
        // (minutes); the kernel runs the same k×dim multiply-adds
        // imperatively
        val asg = embX.crossJoin(broadcast(seedArr))
          .select(col("vec_id"), col("e"),
            graft.functions.NearestSeed(spark, col("e"), col("seeds"))
              .as("cluster"))
        val b = asg.toDF("b_id", "be", "b_cluster")
        asg.join(b, col("cluster") === col("b_cluster") &&
            col("vec_id") < col("b_id"))
          .select(count(lit(1))).head().getLong(0)
      }
      time(s"semdedup pairs, k=8 fixed @${mult}x") { semdedupPairs(8) }
      time(s"semdedup pairs, k=8*mult @${mult}x") { semdedupPairs(8 * mult) }
      // --- k-means iteration (q120 shape): assignment is in-row, the
      // centroid aggregation shuffles k×dims rows — the probe documents
      // shuffle STAYING FLAT while the corpus grows 100×.
      time(s"kmeans iteration k=8 @${mult}x") {
        val seedArr = embX.filter(col("vec_id") < 8)
          .agg(sort_array(collect_list(struct(col("vec_id").as("sid"),
            col("e").as("se")))).as("seeds"))
        val asg = embX.crossJoin(broadcast(seedArr))
          .select(col("vec_id"), col("e"),
            aggregate(col("seeds"),
              struct(lit(Double.MaxValue).as("dist"), lit(-1L).as("sid")),
              (acc, sd) => {
                val dct = graft.similarity.Vectors.sqDist(col("e"),
                  sd.getField("se"))
                when(dct < acc.getField("dist"),
                  struct(dct.as("dist"), sd.getField("sid").as("sid")))
                  .otherwise(acc)
              }).getField("sid").as("cluster"))
        asg.select(col("cluster"), posexplode(col("e")).as(Seq("dim", "x")))
          .groupBy(col("cluster"), col("dim"))
          .agg(sum(round(col("x") * 1000000).cast("long")), count(lit(1)))
          .count()
      }
      // --- PQ encode + ADC retrieval (q121 shape): the retrieval join
      // moves only (id, s, c) triples for the corpus side; shuffle
      // tracks corpus×8 rows of 3 small ints, never vectors.
      time(s"pq encode+adc top5 @${mult}x") {
        val sub = embX.select(col("vec_id"),
            posexplode(transform(sequence(lit(0), lit(7)),
              sp => slice(col("e"), (sp * 8 + 1).cast("int"), lit(8)))))
          .toDF("vec_id", "s", "sub")
        val cb = sub.filter(col("vec_id") < 8).toDF("c", "s", "csub")
        val dist = sub.join(broadcast(cb), "s")
          .select(col("vec_id"), col("s"), col("c"),
            round(graft.similarity.Vectors.sqDist(col("sub"), col("csub"))
              * 1e12).cast("long").as("dq"))
        val codes = dist.groupBy(col("vec_id"), col("s"))
          .agg(min(struct(col("dq"), col("c"))).as("m"))
          .select(col("vec_id").as("n_id"), col("s"), col("m.c").as("c"))
        val qd = dist.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("s"), col("c"), col("dq"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("adc"), col("n_id"))
        codes.join(qd, Seq("s", "c"))
          .filter(col("q_id") =!= col("n_id"))
          .groupBy(col("q_id"), col("n_id"))
          .agg(sum(col("dq")).as("adc"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5).count()
      }
      // --- overlapping chunker (q113 shape): pure narrow map — the
      // probe documents 0 shuffle rows at every multiplier.
      time(s"chunker 32/24 @${mult}x") {
        val ws = split(col("text"), "\\s+")
        docsX.select(col("doc_id"), ws.as("ws"))
          .select(col("doc_id"),
            posexplode(transform(sequence(lit(0L),
              floor((greatest(size(col("ws")) - 32, lit(0)) + 23) / 24)
                .cast("long")),
              i => slice(col("ws"), (i * 24 + 1).cast("int"), lit(32))))
              .as(Seq("chunk_idx", "toks")))
          .select(md5(encode(concat_ws(" ", col("toks")), "UTF-8"))).count()
      }
      }

      if (doR6) {
      // --- Guaranteed-recall join family (q105/q106/q118/q119): probe
      // prefix-mass (the shuffle-rows column — grams/elements + prefix
      // chains dominate it) and CANDIDATE-pair growth vs corpus, then
      // the full verified join. Decorrelation differs per operator:
      //  - Ed-Join compares 24-char prefixes, so replicas get a
      //    rep-specific 8-hex-char TAG PREPENDED — cross-rep distance
      //    ≈ 7-8 ≫ d (word-injection would leave cross-rep distance
      //    ≤ 2 and measure the generator, not the operator); within a
      //    rep the common tag adds distance 0, so true dup structure
      //    scales linearly like a real corpus.
      //  - PPJoin compares 3-word shingle sets, so the usual
      //    between-word rep token works: every cross-rep shingle
      //    differs (J = 0), within-rep Jaccard is preserved.
      val edTag = substring(md5(concat(lit("rep"), col("rep"))), 1, 8)
      val edStrs = docsX.filter(length(col("text")) >= 24)
        .select(col("doc_id").as("id"),
          substring(concat(edTag, lit(" "), col("text")), 1, 24).as("p"))
        .withColumn("len", length(col("p")))
      time(s"edjoin candidates d<=3 @${mult}x") {
        graft.dedup.Dedup.editDistanceCandidates(edStrs, q = 2, dMax = 3).count()
      }
      time(s"edjoin candidates d<=1 @${mult}x") {
        graft.dedup.Dedup.editDistanceCandidates(edStrs, q = 2, dMax = 1).count()
      }
      time(s"edjoin full verify d<=1 @${mult}x") {
        graft.dedup.Dedup.editDistancePairs(
          edStrs.select(col("id"), col("p")), "id", "p",
          q = 2, dMax = 1).count()
      }
      val ppDecorr = docsX.select(col("doc_id"),
        regexp_replace(col("text"), lit(" "),
          concat(lit(" w"), col("rep"), lit(" "))).as("text"))
      val ppSized = graft.dedup.Dedup.setSimilaritySized(
        ppDecorr, "doc_id", "text")
      time(s"ppjoin candidates t=0.5 @${mult}x") {
        graft.dedup.Dedup.setSimilarityCandidates(ppSized, 1, 2).count()
      }
      time(s"ppjoin candidates t=0.8 @${mult}x") {
        graft.dedup.Dedup.setSimilarityCandidates(ppSized, 4, 5).count()
      }
      time(s"ppjoin full verify t=0.8 @${mult}x") {
        graft.dedup.Dedup.setSimilarityPairs(ppDecorr, "doc_id", "text",
          tNum = 4, tDen = 5).count()
      }
      }

      if (doR7) {
      // --- round-5 additions: SCD2 merge, MG heavy hitters, media
      // decode tiers. Shuffle-rows is the scale column throughout.
      val cust = table(spark, sfDir, "customer")
      // decorrelated dimension: replica keys never collide, so the dim
      // grows linearly like a real dimension would
      val dimX = cust.crossJoin(spark.range(mult).select(col("id").as("rep")))
        .select((col("c_custkey") + col("rep") * 10000000L).as("k"),
          col("c_mktsegment").as("segment"), col("c_acctbal").as("acctbal"),
          lit("2024-01-01").as("valid_from"),
          lit(null).cast("string").as("valid_to"))
      // CDC batch = ~1% of keys changed: batch-side shuffle must stay
      // ~1% of the dim-side (full outer cannot broadcast; the at-scale
      // fix is a dim bucketed on k, which removes the big exchange)
      val batchX = dimX.filter(col("k") % 100 === 0)
        .select(col("k"), lit("MOVED").as("segment"),
          (col("acctbal") + 1).as("acctbal"))
      time(s"scd2 merge, 1% cdc batch @${mult}x") {
        graft.load.Warehouse.mergeScd2(dimX, batchX, "k",
          Seq("segment", "acctbal"), "2024-06-15").count()
      }
      // MG sketch pass vs exact groupBy on a skewed stream whose
      // distinct count grows with mult: the sketch's shuffle stays flat
      // (<= 64-entry state row per partition) while exact's grows
      val itemsX = liX.select(
        when(col("l_orderkey") % 2 === 0,
          concat(lit("hot_"), ((col("l_orderkey") % 40) / 2)
            .cast("long").cast("string")))
          .otherwise(concat(lit("cold_"), col("rep"), lit("_"),
            col("l_orderkey").cast("string"), lit("_"),
            col("l_linenumber").cast("string"))).as("item"))
      time(s"mg candidates cap=64 @${mult}x") {
        itemsX.agg(graft.functions.MisraGriesAgg
          .mgCandidates(spark, col("item"), 64).as("c"))
          .select(explode(col("c"))).count()
      }
      time(s"exact groupBy top10 (contrast) @${mult}x") {
        itemsX.groupBy("item").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("item")).limit(10).count()
      }
      import spark.implicits._
      // media tiers: pure narrow maps — the probe proves zero shuffle
      // at every multiplier; payload synthesis happens executor-side
      val ids = docsX.select(col("doc_id")).as[Long]
      time(s"wav decode 70-frame stereo @${mult}x") {
        val media = ids.map { id =>
          graft.multimodal.Multimodal.MediaRow(id, "wav",
            graft.multimodal.AudioVideo.syntheticWav(70, 2, 16000, 16,
              (t, c) => ((id * 13 + t * 7 + c * 3) % 65536).toInt - 32768))
        }
        graft.multimodal.AudioVideo.extractAudioStats(media)
          .agg(min(col("sample_mean")), max(col("sample_max"))).count()
      }
      time(s"y4m sample stride3 16x12x8 @${mult}x") {
        val media = ids.map { id =>
          graft.multimodal.Multimodal.MediaRow(id, "y4m",
            graft.multimodal.AudioVideo.syntheticY4m(16, 12, 8,
              (x, y, t) => ((id * 7 + x * 3 + y * 5 + t * 11) % 256).toInt))
        }
        graft.multimodal.AudioVideo.extractFrameStats(media, 3)
          .agg(min(col("y_mean")), max(col("y_max"))).count()
      }
      time(s"hashed classifier 1024 buckets @${mult}x") {
        import graft.text.TextFunctions
        docsX.select(TextFunctions.hashedLinearScore(
          TextFunctions.hashedBuckets(
            TextFunctions.words(col("text")), 1024)).as("raw"))
          .agg(min(col("raw")), max(col("raw"))).count()
      }
      }

      if (doR8) {
      // --- round-5 late additions: gram matrix, pagerank, perceptual
      // band join, cross-relation contamination.
      val emb = table(spark, sfDir, "embeddings")
      // stream over the replica range (so map partitions scale with
      // mult) and broadcast the small vector table; returning n from
      // the state proves the aggregate genuinely saw rows × mult
      val embX = spark.range(mult).select(col("id").as("rep"))
        .crossJoin(emb.select(
          col("embedding").cast("array<double>").as("e")))
      // the zero-group-key flat-shuffle claim: ONE ~16 KB state row per
      // map partition at any corpus size
      time(s"gram matrix 64-dim @${mult}x") {
        embX.agg(graft.functions.GramMatrixAgg
          .gram(spark, col("e"), 64).as("gm"))
          .select(col("gm.n")).collect()(0).getLong(0)
      }
      // pagerank: per-iteration shuffle = |edges| + |ranks|; replicas
      // decorrelated so the LSH graph grows linearly, not quadratically
      time(s"pagerank 5 iters on lsh graph @${mult}x") {
        import graft.functions.GraftFunctions
        val decorr = docsX.select(col("doc_id"),
          regexp_replace(col("text"), lit(" "),
            concat(lit(" w"), col("rep"), lit(" "))).as("text"))
        val bands = decorr.select(col("doc_id"), posexplode(
            GraftFunctions.minhashBands(spark,
              GraftFunctions.shingles(spark, col("text")))))
          .toDF("doc_id", "bi", "bv")
        val pairs = bands.as("a").join(bands.as("b").hint("merge"),
            col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
          .distinct()
        val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
          .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
          .localCheckpoint()
        // recompute deg/ranks per iteration — the measured winner: AQE
        // broadcasts both node-sized frames (see q143's comment; the
        // checkpointed-fold variant sort-merged at 3× the shuffle)
        val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        val nodes = decorr.select(col("doc_id"))
        var ranks = nodes.withColumn("pr", lit(1000000000L))
        for (_ <- 1 to 5) {
          val sums = edges.join(deg, "src")
            .join(ranks.withColumnRenamed("doc_id", "src"), "src")
            .select(col("dst").as("doc_id"), expr("pr div deg").as("c"))
            .groupBy(col("doc_id")).agg(sum(col("c")).as("in_c"))
          ranks = nodes.join(sums, Seq("doc_id"), "left")
            .select(col("doc_id"), (lit(150000000L) +
              expr("(coalesce(in_c, 0L) * 85) div 100")).as("pr"))
        }
        ranks.agg(min(col("pr")), max(col("pr"))).count()
      }
      // perceptual near-dup band join (q140's shape, hash tier only —
      // decode is a proven narrow map): 4×16-bit bands over 64-bit
      // fingerprints; diverse hashes keep buckets sparse, planted
      // doc_id%20==1 twins supply the qualifying pairs
      time(s"perceptual band join 4x16 @${mult}x") {
        val h = docsX.select(col("doc_id"),
          when(col("doc_id") % 20 === 1, xxhash64(col("doc_id") - 1))
            .otherwise(xxhash64(col("doc_id"))).as("h"))
        val bands = h.select(col("doc_id"), col("h"), posexplode(
            array((0 until 4).map(b =>
              shiftright(col("h"), b * 16).bitwiseAND(lit(0xFFFFL))): _*)))
          .toDF("doc_id", "h", "bi", "bv")
        bands.as("a").join(bands.as("b").hint("merge"),
            col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
            col("a.h").as("ah"), col("b.h").as("bh"))
          .distinct()
          .filter(bit_count(col("ah").bitwiseXOR(col("bh"))) <= 3)
          .count()
      }
      // cross-relation contamination: probe side FIXED (the realistic
      // case — the benchmark suite doesn't grow), corpus grows ×mult;
      // work should track the corpus prefix mass, not probe×corpus
      time(s"rs contamination, fixed probe @${mult}x") {
        val probe = docs.filter(col("doc_id") % 10 === 0)
        // rep 0 keeps the raw text so genuine cross-matches survive at
        // every multiplier (the probe is raw); reps 1+ decorrelate
        val corpusX = docsX.filter(col("doc_id") % 2 =!= 0)
          .select(col("doc_id"),
            when(col("rep") === 0, col("text"))
              .otherwise(regexp_replace(col("text"), lit(" "),
                concat(lit(" w"), col("rep"), lit(" ")))).as("text"))
        graft.dedup.Dedup.setSimilarityPairsRS(probe, corpusX,
          "doc_id", "text", tNum = 1, tDen = 2).count()
      }
      }

      if (doR9) {
      // --- BPE trainer (q144/q145 shape). Replica words get a _rep
      // suffix so the word-TYPE table genuinely grows ×mult (raw
      // replicas would dedup to a mult-independent vocab; real corpora
      // grow sublinearly — this is the worst case). The claim under
      // test: the corpus-token stream aggregates map-side down to
      // vocab-sized partials in the wf groupBy, each merge round's
      // pair-count shuffle is vocab-sized (never corpus-sized), and
      // the merge APPLICATION is a zero-shuffle narrow map against a
      // broadcast 1-row winner.
      val bpeWords = docsX
        .select(explode(split(col("text"), "\\s+")).as("w0"), col("rep"))
        .filter(length(col("w0")) > 0)
        .select(concat(col("w0"), lit("_"), col("rep")).as("w"))
      // the production shape (bpeTrain): wf localCheckpoint'd, so the
      // corpus→vocab reduction runs exactly once and nothing can sink
      // below it. Metered as ONE tier because the checkpoint is eager.
      var wfd: DataFrame = null
      time(s"bpe wf groupBy + checkpoint @${mult}x") {
        wfd = bpeWords.groupBy("w").agg(count(lit(1)).as("freq"))
          .localCheckpoint()
        wfd.count()
      }
      val seq0 = wfd.select(col("freq"),
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
          .as("seq"))
      // CONTRAST row — the naive un-checkpointed frame: Catalyst
      // pushes `size(seq) > 1` (a function of the group key) below the
      // aggregate, evaluating the interpreted transform/substring HOF
      // per corpus TOKEN instead of per word type (92 s vs 23 s
      // end-to-end at 100x when first measured)
      val seq0Naive = bpeWords.groupBy("w").agg(count(lit(1)).as("freq"))
        .select(col("freq"),
          expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
            .as("seq"))
      time(s"bpe pair counts, naive pushdown hazard @${mult}x") {
        seq0Naive.filter(size(col("seq")) > 1)
          .select(col("freq"), explode(expr(
            """transform(sequence(1, size(seq) - 1), i ->
              struct(element_at(seq, i) AS a,
                element_at(seq, CAST(i + 1 AS INT)) AS b))""")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("freq")).as("cnt")).count()
      }
      time(s"bpe pair counts @${mult}x") {
        seq0.filter(size(col("seq")) > 1)
          .select(col("freq"), explode(expr(
            """transform(sequence(1, size(seq) - 1), i ->
              struct(element_at(seq, i) AS a,
                element_at(seq, CAST(i + 1 AS INT)) AS b))""")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("freq")).as("cnt")).count()
      }
      time(s"bpe merge apply (narrow) @${mult}x") {
        // winner pinned as a literal pair: isolates the apply tier the
        // way production encode runs it (merge list broadcast to every
        // task, fold in-row) — the metered shuffle is the final count's
        // 1-row partials only
        seq0.select(col("freq"), expr(
            """aggregate(seq, cast(array() as array<string>), (acc, x) ->
              CASE WHEN size(acc) = 0 THEN array(x)
                WHEN element_at(acc, -1) = 'e' AND x = '_'
                  THEN concat(slice(acc, 1, size(acc) - 1), array('e_'))
                ELSE concat(acc, array(x)) END)""").as("seq"))
          .select(sum(size(col("seq")))).count()
      }
      }

      if (doR10) {
      // --- global prefix sum (q146 shape) over the replicated fact
      // table: unique ordering key per (rep, line), weight l_quantity.
      // The claim: the two-phase scan shuffles each row ONCE (the range
      // exchange) plus numParts bounded total rows, and both passes run
      // at full parallelism — vs the declarative global window, whose
      // plan is Exchange SinglePartition + Sort: every row through one
      // task, the shape that dies first at cluster scale.
      val keyed = liX.select(
        (col("rep") * 100000000L + col("l_orderkey") * 10 +
          col("l_linenumber")).as("k"),
        col("l_quantity").cast("long").as("w"))
      time(s"prefix sum two-phase @${mult}x") {
        graft.ops.PrefixSum.withRunningTotal(keyed, "k", "w", "cw")
          .filter(expr("(cw div 1000000) > ((cw - w) div 1000000)"))
          .count()
      }
      if (mult <= 10) {
        // the naive tier is omitted at 100x: 60M rows through a single
        // window task takes minutes and proves nothing new
        time(s"prefix sum naive global window @${mult}x") {
          val w = Window.orderBy("k")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          keyed.withColumn("cw", sum(col("w")).over(w))
            .filter(expr("(cw div 1000000) > ((cw - w) div 1000000)"))
            .count()
        }
      }
      }

      if (doR11) {
      // --- SCD2 with the dimension stored BUCKETED on the key
      // (q129/T40's at-scale configuration, the fix the r7 row's comment
      // promises): the bucketed+sorted scan already satisfies the
      // full-outer join's required distribution and ordering, so the
      // dim-side exchange (and sort) vanish — the metered shuffle must
      // track the ~1% CDC batch, not the dimension. Contrast with the
      // r7 row, where BOTH sides shuffle. The bucketed write itself is
      // the one-time layout cost and is deliberately outside the meter
      // (paid once, amortized over every nightly merge).
      val cust = table(spark, sfDir, "customer")
      val dimSrc = cust.crossJoin(spark.range(mult).select(col("id").as("rep")))
        .select((col("c_custkey") + col("rep") * 10000000L).as("k"),
          col("c_mktsegment").as("segment"), col("c_acctbal").as("acctbal"),
          lit("2024-01-01").as("valid_from"),
          lit(null).cast("string").as("valid_to"))
      val tbl = s"scd2_dim_bucketed_${mult}x"
      graft.load.Warehouse.writeBucketed(dimSrc, tbl, "k", 32)
      val dimB = spark.table(tbl)
      // batch comes from the UNBUCKETED source frame: it must shuffle
      // (that's the honest CDC shape); only the dim side may skip its
      // exchange
      val batchX = dimSrc.filter(col("k") % 100 === 0)
        .select(col("k"), lit("MOVED").as("segment"),
          (col("acctbal") + 1).as("acctbal"))
      time(s"scd2 merge, BUCKETED dim, 1% cdc @${mult}x") {
        graft.load.Warehouse.mergeScd2(dimB, batchX, "k",
          Seq("segment", "acctbal"), "2024-06-15").count()
      }
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      }

      if (doR12) {
      // --- round-6 curation shapes (T59/T60/T61) ---
      val docs6 = table(spark, sfDir, "documents")
      val docs6X = docs6.crossJoin(spark.range(mult).select(col("id").as("rep")))
        .select((col("doc_id") * mult + col("rep")).as("doc_id"),
          col("text"), col("lang"), col("rep"))
      // DSIR (q149 shape): both hashed-unigram LMs partial-aggregate
      // map-side to ≤1024 bucket rows per partition — the model-side
      // shuffle is bounded by buckets × partitions at ANY corpus size,
      // and scoring probes the broadcast 1024-row log-ratio table.
      // Expected: shuffle rows ≈ docs (the per-doc partial sums) +
      // O(1024×32), i.e. linear with a flat model term.
      time(s"dsir weights (1024-bucket LMs) @${mult}x") {
        // q149's shape: tokens hashed (codegen rolling fingerprint)
        // and exchanged ONCE as per-doc bucket histograms; model fit
        // and scoring both read that exchange (ReuseExchange)
        val hist = docs6X.select(col("doc_id"), col("lang"),
          explode(graft.text.TextFunctions.hashedBuckets(
            split(col("text"), "\\s+"), 1024)).as("b"))
          .groupBy(col("doc_id"), col("lang"), col("b"))
          .agg(count(lit(1)).as("nb"))
        val bc = hist.groupBy("b").agg(sum(col("nb")).as("cr"),
          coalesce(sum(when(col("lang") === "en", col("nb"))), lit(0L))
            .as("ct"))
        val tot = bc.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
        val lr = bc.crossJoin(broadcast(tot))
          .select(col("b"), graft.functions.FixedLog.lnLat12(
            (col("ct") + 1) * (col("nr") + 1024),
            (col("cr") + 1) * (col("nt") + 1024)).as("lr"))
        hist.join(broadcast(lr), Seq("b")).groupBy("doc_id")
          .agg(sum(col("nb")).as("n"), sum(col("nb") * col("lr")).as("s"))
          .count()
      }
      // Exact substring dedup (q150 shape): one 8-byte hash row per
      // token position is the honest floor — text never shuffles.
      // Replicas are decorrelated by interleaving a rep-specific token,
      // so duplicated-window mass stays the PLANTED intra-replica dups
      // (linear), not the ×mult² cross-replica explosion a naive
      // replication would measure.
      time(s"substring dedup 8-tok windows @${mult}x") {
        // interleave a rep-specific token between every word: all
        // windows become rep-local, so cross-replica collisions vanish
        val t = docs6X.select(col("doc_id"),
          split(regexp_replace(
            regexp_replace(col("text"), lit("\\s+"), lit(" ")),
            lit(" "), concat(lit(" z"), col("rep").cast("string"), lit(" "))),
            " ").as("ws"))
          .filter(size(col("ws")) >= 8)
        // localCheckpoint matches q150's shipped shape: the window
        // frame materializes once for its two consumers (Catalyst
        // pushes the semi join below any repartition barrier, so a
        // shared-exchange form is not available here)
        val wins = t.select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("ws")) - 7),
            i => hash32(concat_ws(" ", slice(col("ws"), i, lit(8))))))
            .as("wh"))
          .localCheckpoint()
        val dup = wins.groupBy("wh").agg(countDistinct("doc_id").as("nd"))
          .filter(col("nd") > 1).select("wh")
        wins.join(dup, Seq("wh"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1))).count()
        // checkpoint blocks are released by the ContextCleaner once the
        // frame is unreferenced — no explicit unpersist needed
      }
      // Bloom-gated variant (q162 shape): identical result, but the
      // probe side filters on the bounded sketch BEFORE the semi-join
      // exchange. IMPORTANT measurement caveat: at local probe sizes
      // AQE broadcasts the dup side, so the probe side never exchanges
      // in EITHER variant and the default-regime rows show no delta —
      // the gate's savings live in the SHUFFLED-join regime (at 100 TB
      // the dup-hash side exceeds any broadcast threshold). The pair
      // below disables broadcast to measure that regime directly.
      def substrFrames() = {
        val t = docs6X.select(col("doc_id"),
          split(regexp_replace(
            regexp_replace(col("text"), lit("\\s+"), lit(" ")),
            lit(" "), concat(lit(" z"), col("rep").cast("string"), lit(" "))),
            " ").as("ws"))
          .filter(size(col("ws")) >= 8)
        val wins = t.select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("ws")) - 7),
            i => hash32(concat_ws(" ", slice(col("ws"), i, lit(8))))))
            .as("wh"))
          .localCheckpoint()
        val dup = wins.groupBy("wh").agg(countDistinct("doc_id").as("nd"))
          .filter(col("nd") > 1).select("wh")
          .localCheckpoint()
        (wins, dup)
      }
      // sketch sized WITH the corpus (bits linear in expected dup
      // cardinality — a fixed-size sketch saturates at 10x and its FP
      // rate goes to 1, silently re-admitting every window; measured)
      time(s"substring dedup bloom-gated @${mult}x") {
        val (wins, dup) = substrFrames()
        val sk = graft.functions.BloomGate.sketch(dup, col("wh"),
          expectedItems = (1L << 16) * mult, numBits = (1L << 20) * mult)
        wins.filter(graft.functions.BloomGate.mightContain(sk, col("wh"),
            tag = s"probe_r12_bloom_$mult"))
          .join(dup, Seq("wh"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1))).count()
      }
      // shuffled-regime pair: broadcast disabled (incl. AQE's runtime
      // conversion) to expose the probe-side exchange both variants
      // carry at corpus scale — THIS delta is the T25 mitigation.
      val prevBT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      time(s"substring dedup PLAIN shuffled-regime @${mult}x") {
        val (wins, dup) = substrFrames()
        wins.join(dup, Seq("wh"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1))).count()
      }
      time(s"substring dedup BLOOM shuffled-regime @${mult}x") {
        val (wins, dup) = substrFrames()
        val sk = graft.functions.BloomGate.sketch(dup, col("wh"),
          expectedItems = (1L << 16) * mult, numBits = (1L << 20) * mult)
        wins.filter(graft.functions.BloomGate.mightContain(sk, col("wh"),
            tag = s"probe_r12_bloom_sh_$mult"))
          .join(dup, Seq("wh"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1))).count()
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBT)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      // Principal direction (q151 shape): the Gram pass is ONE ~16 KB
      // state row per map partition (flat at any corpus size); matvecs
      // run on the 64×64 lattice frame; the projection folds against a
      // single broadcast array row — expected shuffle rows ≈ map
      // partitions, FLAT 1×→100×.
      val emb6 = table(spark, sfDir, "embeddings")
      val emb6X = emb6.crossJoin(spark.range(mult).select(col("id").as("rep")))
        .select((col("vec_id") * mult + col("rep")).as("vec_id"),
          col("embedding").cast("array<double>").as("e"))
      time(s"principal projection (gram+2 matvec+fold) @${mult}x") {
        // round-7 shipped shape: quantize once (latticize), pure
        // integer after — see q151
        val gm = emb6X
          .select(graft.similarity.Vectors.latticize(col("e")).as("el"))
          .agg(graft.functions.GramMatrixAgg.gram(spark, col("el"), 64).as("gm"))
          .select(explode(col("gm.g")).as("x"))
          .select(col("x.di").as("di"), col("x.dj").as("dj"),
            expr("CAST((CASE WHEN x.s < 0 THEN -1 ELSE 1 END) * " +
              "((abs(x.s) + 500000L) DIV 1000000L) AS BIGINT)").as("g"))
        val gf = gm.union(gm.filter(col("di") =!= col("dj"))
          .select(col("dj").as("di"), col("di").as("dj"), col("g")))
        val v1 = gf.groupBy("di").agg(sum(col("g")).as("x1"))
          .select(col("di").as("j"), col("x1"))
        val v2 = gf.join(broadcast(v1), col("dj") === col("j"))
          .groupBy("di").agg(sum(col("g")
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)) * col("x1"))
            .as("x2"))
        val v2arr = v2.agg(array_sort(collect_list(struct(col("di"),
          col("x2")))).as("sx"))
          .select(transform(col("sx"), x => x.getField("x2")).as("pc"))
        emb6X.crossJoin(broadcast(v2arr))
          .select(col("vec_id"), aggregate(
            zip_with(transform(
              graft.similarity.Vectors.latticize(col("e")),
              x => x.cast(org.apache.spark.sql.types.DecimalType(38, 0))),
              col("pc"), (a, b) => a * b),
            lit(0).cast(org.apache.spark.sql.types.DecimalType(38, 0)),
            (acc, x) => (acc + x)
              .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .as("proj"))
          .agg(max(abs(col("proj")))).count()
      }
      }

      if (doR13) {
      // --- round-7 containment join (q164 / T76 shape) ---
      // Guaranteed-recall overlap probe: every doc probes its
      // floor(n/2)+1 smallest shingle hashes against the full inverted
      // index. The scale hazard is HOT SHINGLES: a hash shared by k
      // docs contributes O(k_probe · k_index) candidate pairs, so the
      // probe tracks candidate mass explicitly. Replicas decorrelated
      // (intra-rep containment only) → expected LINEAR candidate
      // growth; super-linear growth here means the corpus needs the
      // documented mitigations (stopword-shingle drop, or the q108
      // bucket cap at a declared recall tradeoff).
      val docs7 = table(spark, sfDir, "documents")
      val docs7X = docs7.crossJoin(spark.range(mult).select(col("id").as("rep")))
        .select((col("doc_id") * mult + col("rep")).as("doc_id"),
          // normalize whitespace FIRST: an unreplaced multi-space
          // separator would leave shingles shared across ALL replicas
          // (hot across reps → spurious super-linear candidate mass —
          // observed 64x at 10x before this normalize)
          regexp_replace(regexp_replace(col("text"),
              lit("\\s+"), lit(" ")),
            lit(" "), concat(lit(" w"), col("rep"), lit(" "))).as("text"))
      time(s"containment overlap join @${mult}x") {
        val hashes = graft.dedup.Dedup.shingleFrame(docs7X, "doc_id", "text")
          .select(col("doc_id"), array_sort(array_distinct(
            transform(col("sh"), x => graft.ops.Hashing.hash32(x)))).as("hs"))
          .localCheckpoint()
        val idx = hashes.select(col("doc_id").as("i_id"),
          explode(col("hs")).as("h"))
        val pre = hashes.select(col("doc_id").as("p_id"),
          explode(expr("slice(hs, 1, size(hs) div 2 + 1)")).as("h"))
        val cand = pre.join(idx, "h")
          .filter(col("p_id") =!= col("i_id"))
          .select(least(col("p_id"), col("i_id")).as("a_id"),
            greatest(col("p_id"), col("i_id")).as("b_id"))
          .distinct()
        cand.join(hashes.toDF("a_id", "a_hs"), "a_id")
          .join(hashes.toDF("b_id", "b_hs"), "b_id")
          .filter(size(array_intersect(col("a_hs"), col("b_hs"))) * 2 >=
            least(size(col("a_hs")), size(col("b_hs"))))
          .count()
      }
      }

      if (doR14) {
      // --- round-8 containment STOP-DROP tier (q183 / T93) ---
      // VERDICT-r7 graded the q164 tier perf-weak: its ceiling is the
      // candidate multiset Σ_h probe(h)·index(h), owned by hot
      // shingles. The mitigation (df > τ hashes dropped from index AND
      // probe) caps each hash's contribution at τ². This probe
      // measures (a) the multiset full vs capped — the reduction
      // VERDICT asked to see at 10× — and (b) the capped join's
      // end-to-end wall on the same tag-inflated stress corpus the r13
      // rows used, so the numbers are comparable. The stress corpus
      // DELIBERATELY has pathological hotness; output-pair loss vs the
      // r13 full-tier count is reported, not hidden (capped recall is
      // the tier's declared semantics).
      val docs8 = table(spark, sfDir, "documents")
      val docs8X = docs8.crossJoin(spark.range(mult).select(col("id").as("rep")))
        .select((col("doc_id") * mult + col("rep")).as("doc_id"),
          regexp_replace(regexp_replace(col("text"),
              lit("\\s+"), lit(" ")),
            lit(" "), concat(lit(" w"), col("rep"), lit(" "))).as("text"))
      def contain(docs: DataFrame, label: String): Unit = {
        val hashes = graft.dedup.Dedup.shingleFrame(docs, "doc_id", "text")
          .select(col("doc_id"), array_sort(array_distinct(
            transform(col("sh"), x => graft.ops.Hashing.hash32(x)))).as("hs"))
          .localCheckpoint()
        // the operator's corpus-relative cap (the probe measures the
        // SHIPPED dial, not a probe-only constant)
        val tau = math.max(graft.queries.Curation3.StopDfFloor.toLong,
          hashes.count() / graft.queries.Curation3.StopFracDen)
        val ex = hashes.select(col("doc_id"), explode(col("hs")).as("h"))
        val dfc = ex.groupBy("h").agg(count(lit(1)).as("c"))
        val preC = hashes.select(
            explode(expr("slice(hs, 1, size(hs) div 2 + 1)")).as("h"))
          .groupBy("h").agg(count(lit(1)).as("np"))
        val massFrame = preC.join(dfc, "h")
        var fullMass = 0L
        time(s"$label multiset full+capped") {
          val r = massFrame.agg(
            sum(col("np") * col("c")).as("full"),
            sum(when(col("c") <= tau, col("np") * col("c"))
              .otherwise(lit(0L))).as("capped")).head()
          println(f"[scale]   $label candidate multiset: " +
            f"full=${r.getLong(0)}%,d capped=${r.getLong(1)}%,d " +
            f"(${100.0 * (r.getLong(0) - r.getLong(1)) / math.max(1L, r.getLong(0))}%.1f%% drop)")
          fullMass = r.getLong(0)
          r.getLong(1)
        }
        // un-mitigated q164 tier for comparison, but only when its
        // candidate multiset is tractable (the stress@10× full tier is
        // a measured 437–559 s — no need to re-burn it per probe run)
        if (fullMass < 100000000L) time(s"$label full join") {
          val idx = hashes.select(col("doc_id").as("i_id"),
            explode(col("hs")).as("h"))
          val pre = hashes.select(col("doc_id").as("p_id"),
            explode(expr("slice(hs, 1, size(hs) div 2 + 1)")).as("h"))
          val cand = pre.join(idx, "h")
            .filter(col("p_id") =!= col("i_id"))
            .select(least(col("p_id"), col("i_id")).as("a_id"),
              greatest(col("p_id"), col("i_id")).as("b_id"))
            .distinct()
          cand.join(hashes.toDF("a_id", "a_hs"), "a_id")
            .join(hashes.toDF("b_id", "b_hs"), "b_id")
            .filter(size(array_intersect(col("a_hs"), col("b_hs"))) * 2 >=
              least(size(col("a_hs")), size(col("b_hs"))))
            .count()
        }
        // the positional join's PRE-filter mass is the full multiset
        // (bounding happens after the hash match), so gate it like the
        // full tier — its 10× stress numbers are already recorded
        if (fullMass < 3000000000L) time(s"$label positional join") {
          // q184 / T94: recall-EXACT positional prefix bounds — prunes
          // the duplicated-pair mass before the distinct exchange
          val idx = hashes.select(col("doc_id").as("i_id"),
            size(col("hs")).as("nb"),
            posexplode(col("hs")).as(Seq("j", "h")))
          val pre = hashes.select(col("doc_id").as("p_id"),
            size(col("hs")).as("na"),
            posexplode(expr("slice(hs, 1, size(hs) div 2 + 1)"))
              .as(Seq("i", "h")))
          val cand = pre.join(idx, "h")
            .filter(col("p_id") =!= col("i_id"))
            .filter((lit(1) + least(col("na") - col("i") - 1,
              col("nb") - col("j") - 1)) * 2 >=
              least(col("na"), col("nb")))
            .select(least(col("p_id"), col("i_id")).as("a_id"),
              greatest(col("p_id"), col("i_id")).as("b_id"))
            .distinct()
          cand.join(hashes.toDF("a_id", "a_hs"), "a_id")
            .join(hashes.toDF("b_id", "b_hs"), "b_id")
            .filter(size(array_intersect(col("a_hs"), col("b_hs"))) * 2 >=
              least(size(col("a_hs")), size(col("b_hs"))))
            .count()
        }
        time(s"$label stop-drop join") {
          val stop = dfc.filter(col("c") > tau).select("h")
          val idx = ex.select(col("doc_id").as("i_id"), col("h"))
            .join(stop, Seq("h"), "left_anti")
          val pre = hashes.select(col("doc_id").as("p_id"),
              explode(expr("slice(hs, 1, size(hs) div 2 + 1)")).as("h"))
            .join(stop, Seq("h"), "left_anti")
          val cand = pre.join(idx, "h")
            .filter(col("p_id") =!= col("i_id"))
            .select(least(col("p_id"), col("i_id")).as("a_id"),
              greatest(col("p_id"), col("i_id")).as("b_id"))
            .distinct()
          cand.join(hashes.toDF("a_id", "a_hs"), "a_id")
            .join(hashes.toDF("b_id", "b_hs"), "b_id")
            .filter(size(array_intersect(col("a_hs"), col("b_hs"))) * 2 >=
              least(size(col("a_hs")), size(col("b_hs"))))
            .count()
        }
      }
      // production-shaped row (VERDICT-r7 item 6): the corpus at its
      // NATURAL hotness, unreplicated — run once, not per multiplier
      if (mult == mults.head)
        contain(docs8.select(col("doc_id"), col("text")),
          "containment natural@1x")
      contain(docs8X, s"containment stress@${mult}x")
      // BOILERPLATE corpus: the realistic middle ground between the
      // clean natural corpus (no hot shingles at all) and the
      // tag-inflated stress corpus (every other shingle hot): the
      // NATURAL corpus with a fixed 12-word footer appended to every
      // 3rd doc — the web navigation/license shape the stop cap is
      // FOR. Footer shingles have df ≈ N/3 ≫ τ while the rest of the
      // text keeps its natural df profile.
      if (mult == mults.head) {
        val footer = " the quick brown fox jumps over the lazy dog" +
          " near the riverbank"
        val docs8B = docs8.select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(footer)))
            .otherwise(col("text")).as("text"))
        contain(docs8B, "containment boiler@1x")
      }
      }

      if (doR15) {
      // --- round-9: streaming containment ingest-gate probe (q187 /
      // T97, VERDICT-r8 item 3) --- the standing inverted index grows
      // with the ACCEPTED corpus while the arriving batch stays a
      // fixed size, so the per-batch latency curve vs corpus size IS
      // the ingest-gate SLA. Corpus growth is rep-tagged DISJOINT
      // content (rep 0 keeps the natural text so the true-match set is
      // CONSTANT across multipliers — only the index size varies);
      // the probe body is the exact q187 foreachBatch shape: hash the
      // batch, positional-bound candidate join against the standing
      // index — since round 10 MATERIALIZED BUCKETED BY h
      // (Warehouse.writeBucketed, VERDICT-r9 item 2), so the index
      // arrives pre-partitioned on the join key and only the BATCH
      // side exchanges: per-batch shuffle must stay FLAT as the
      // corpus multiplier grows (round 9's re-exploded index showed
      // 61.3 MB index-side shuffle @10×, growing with the corpus).
      // Exact verify, per-doc verdict. Three reps per multiplier
      // separate steady-state from warm-up.
      val docsS = table(spark, sfDir, "documents")
      val trainX = docsS.filter(col("doc_id") % 10 =!= 0)
        .crossJoin(spark.range(mult).select(col("id").as("rep")))
        .select((col("doc_id") * mult + col("rep")).as("doc_id"),
          when(col("rep") === 0, col("text"))
            .otherwise(regexp_replace(col("text"), lit(" "),
              concat(lit(" w"), col("rep"), lit(" ")))).as("text"))
      val arriving = docsS.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") * mult).as("doc_id"), col("text"))
      def hashF(df: DataFrame): DataFrame =
        graft.dedup.Dedup.shingleFrame(df, "doc_id", "text")
          .select(col("doc_id"), array_sort(array_distinct(
            transform(col("sh"), x => graft.ops.Hashing.hash32(x)))).as("hs"))
      var train: DataFrame = null
      time(s"ingest-gate index build @${mult}x") {
        train = hashF(trainX).toDF("t_id", "t_hs").localCheckpoint()
        train.count()
      }
      time(s"ingest-gate bucketed index materialize @${mult}x") {
        graft.load.Warehouse.writeBucketed(
          train.select(col("t_id"), size(col("t_hs")).as("nb"),
            posexplode(col("t_hs")).as(Seq("j", "h"))),
          "graft_probe_q187_idx", "h", 32)
        spark.table("graft_probe_q187_idx").count()
      }
      val trainPos = spark.table("graft_probe_q187_idx")
      for (rep <- 1 to 3) time(s"ingest-gate batch probe #$rep @${mult}x") {
        val eh = hashF(arriving).toDF("e_id", "e_hs").localCheckpoint()
        val cand = eh.select(col("e_id"), size(col("e_hs")).as("na"),
            posexplode(col("e_hs")).as(Seq("i", "h")))
          .join(trainPos, "h")
          .filter((lit(1) + least(col("na") - col("i") - 1,
            col("nb") - col("j") - 1)) * 2 >=
            least(col("na"), col("nb")))
          .select("e_id", "t_id").distinct()
        // verify via the broadcast semi-reduction (the shipped q187
        // shape): the standing hash frame is scanned, never exchanged
        val trainHit = train
          .join(broadcast(cand.select("t_id").distinct()), "t_id")
        cand.join(eh, "e_id").join(broadcast(trainHit), "t_id")
          .filter(size(array_intersect(col("e_hs"), col("t_hs"))) * 2
            >= least(size(col("e_hs")), size(col("t_hs"))))
          .groupBy("e_id")
          .agg(count(lit(1)).as("n"), min(col("t_id")).as("fm"))
          .count()
      }
      spark.sql("DROP TABLE IF EXISTS graft_probe_q187_idx")
      }

      if (doR16) {
      // --- round-9: per-doc novelty (q196 / T105) --- the h-keyed
      // min-aggregation + join back. The operator's mass is the
      // inverted-index (doc, hash) row set, so shuffle must track the
      // multiplier LINEARLY — any superlinear growth here would mean
      // the join back is exchanging more than the index mass. Disjoint
      // rep-tagged growth, as in r15.
      val docsN = table(spark, sfDir, "documents")
      val docsNX = docsN
        .crossJoin(spark.range(mult).select(col("id").as("rep")))
        .select((col("doc_id") * mult + col("rep")).as("doc_id"),
          when(col("rep") === 0, col("text"))
            .otherwise(regexp_replace(col("text"), lit(" "),
              concat(lit(" w"), col("rep"), lit(" ")))).as("text"))
      // single-core throughput of the gzip member splitter (q195 /
      // T104): at 100 TB the ingest decompression floor is
      // bytes/sec/core × cores — measure it once (pure JVM, no Spark;
      // members sized like WET records). Run only at the first
      // multiplier; prints compressed and inflated MB/s.
      if (mult == mults.head) {
        // text-shaped payload (4096-word vocab in mixed order) → a
        // realistic ~2-3× deflate ratio, not a degenerate 50× one
        val payload = {
          val sb = new StringBuilder
          var x = 88172645463325252L
          while (sb.length < 100 * 1024) {
            x ^= x << 13; x ^= x >>> 7; x ^= x << 17
            sb.append('w').append(java.lang.Long.toString((x >>> 16) & 4095))
              .append(' ')
          }
          sb.toString.getBytes("US-ASCII")
        }
        val member = graft.multimodal.Compressed.gzipMember(payload, None)
        val archive = {
          val bos = new java.io.ByteArrayOutputStream()
          for (_ <- 0 until 512) bos.write(member)
          bos.toByteArray
        }
        graft.multimodal.Compressed.splitGzipMembers(archive) // warm JIT
        val t0 = System.nanoTime()
        val ms = graft.multimodal.Compressed.splitGzipMembers(archive).get
        val secs = (System.nanoTime() - t0) / 1e9
        val compMb = archive.length / 1e6
        val rawMb = ms.map(_.uncomp_len).sum / 1e6
        println(f"[scale] gzip split throughput: ${ms.length} members, " +
          f"$compMb%.1f MB compressed / $rawMb%.1f MB inflated in " +
          f"$secs%.2f s = ${compMb / secs}%.0f / ${rawMb / secs}%.0f MB/s " +
          "single-core")
      }
      // the probes below call the SHIPPED frame builders
      // (Curation4.noveltyExplode/cdcChunkFrame/winnowExplode) — one
      // definition each, so a chunking/fingerprint rule change cannot
      // silently leave the probe measuring a stale operator
      time(s"novelty rate @${mult}x") {
        val ex = graft.queries.Curation4.noveltyExplode(docsNX)
          .localCheckpoint()
        val mn = ex.groupBy("h").agg(min(col("doc_id")).as("m"))
        ex.join(mn, "h").groupBy("doc_id")
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("m") === col("doc_id"), 1L).otherwise(0L))
              .as("n_novel"))
          .count()
      }
      // q202 CDC chunk dedup: digest-keyed, same linearity expectation
      time(s"cdc chunk dedup @${mult}x") {
        val chunks = graft.queries.Curation4.cdcChunkFrame(docsNX)
          .localCheckpoint()
        val mn2 = chunks.groupBy("dg").agg(min(col("doc_id")).as("m"))
        chunks.join(mn2, "dg").groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("m") < col("doc_id"), 1L).otherwise(0L))
              .as("n_dup"))
          .count()
      }
      // q203 winnowing with the hot-fingerprint cap: the pair mass is
      // the quantity the cap bounds — report capped vs full
      time(s"winnow pairs @${mult}x") {
        val ex2 = graft.queries.Curation4.winnowExplode(docsNX)
          .localCheckpoint()
        val tau2 = math.max(4L, docsNX.count() / 250L)
        val dfc2 = ex2.groupBy("v").agg(count(lit(1)).as("c"))
        // coalesce: an all-short-docs corpus yields an EMPTY
        // fingerprint frame and NULL sums — report zero, don't NPE
        val m = dfc2.agg(
          coalesce(sum(col("c") * col("c")), lit(0L)).as("full"),
          coalesce(sum(when(col("c") <= tau2, col("c") * col("c"))
            .otherwise(lit(0L))), lit(0L)).as("capped")).head()
        println(f"[scale]   winnow pair mass Σdf²: full=${m.getLong(0)}%,d " +
          f"capped=${m.getLong(1)}%,d (τ=$tau2)")
        val hot = dfc2.filter(col("c") > tau2).select("v")
        val exc = ex2.join(hot, Seq("v"), "left_anti")
          .select(col("doc_id"), col("v"))
        exc.select(col("doc_id").as("a_id"), col("v"))
          .join(exc.select(col("doc_id").as("b_id"), col("v")), "v")
          .filter(col("a_id") < col("b_id"))
          .groupBy("a_id", "b_id")
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 3)
          .count()
      }
      }

      if (doR17) {
      // --- round-10: the q205 self-tuning winnow cap (VERDICT-r9
      // item 1) on the SAME rep-tagged stress corpus whose CAPPED
      // winnow enumeration owned 128.8 s @10× in the r16 row. The
      // stats pass (df histogram + cumulative window — shipped
      // builder, no probe drift) must tighten the cap on the
      // hub-shaped profile, and the ROUTED plan's enumeration mass is
      // budget-bounded by construction — the probe verifies the wall
      // and shuffle envelope stays scan-dominated (linear) where the
      // fixed-τ tier could not hold one. (The r16 prose fallback —
      // positional containment — was measured here first: 290.7 s /
      // 447M candidate rows @10×, WORSE than the 128.8 s it was meant
      // to guard, because hub shingle hashes inflate a positional
      // join exactly as hub fingerprints inflate the winnow join.
      // That measurement is why q205 tightens instead of switching.)
      val docsR = table(spark, sfDir, "documents")
        .crossJoin(spark.range(mult).select(col("id").as("rep")))
        .select((col("doc_id") * mult + col("rep")).as("doc_id"),
          when(col("rep") === 0, col("text"))
            .otherwise(regexp_replace(col("text"), lit(" "),
              concat(lit(" w"), col("rep"), lit(" ")))).as("text"))
      var routed = "?"
      time(s"winnow router stats pass @${mult}x") {
        val tauF = docsR.agg(
          expr("greatest(CAST(4 AS BIGINT), count(1) DIV 250) AS t"))
        val (tier, eff, nFp, capped, t) =
          graft.queries.Curation4.winnowRouteStats(
            graft.queries.Curation4.winnowExplode(docsR), tauF)
        routed = tier
        println(f"[scale]   router: tier=$tier eff_cap=$eff n_fp=$nFp%,d " +
          f"capped_mass=$capped%,d τ=$t budget=${t * nFp}%,d")
        nFp
      }
      time(s"winnow ROUTED plan ($routed) @${mult}x") {
        graft.queries.Curation4.winnowAuto(docsR).count()
      }
      // VERDICT-r10 item 3: the r17 stats-pass wall (6.1 → 122 →
      // 402 s at 1×/10×/30×) looked superlinear, but the r17 corpus
      // INFLATES text — " " → " w$rep " inserts one word per word, so
      // token mass at mult m is ~(2m−1)× the 1× run (19× at 10×,
      // 59× at 30×), and 122/6.1 = 20×, 402/6.1 = 66× ≈ token mass
      // (+GC in the fixed heap). This row re-probes with CONSTANT
      // token density: each word is PREFIXED with the rep tag (same
      // regexp_replace, "$1" backreference) — token count per doc is
      // identical across reps, vocabulary still rep-distinct, so
      // corpus mass is exactly mult× and the stats-pass wall must
      // read ~linear in mult.
      val docsCD = table(spark, sfDir, "documents")
        .crossJoin(spark.range(mult).select(col("id").as("rep")))
        .select((col("doc_id") * mult + col("rep")).as("doc_id"),
          when(col("rep") === 0, col("text"))
            .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
              concat(lit("w"), col("rep"), lit("$1")))).as("text"))
      time(s"winnow stats pass CONSTANT-DENSITY @${mult}x") {
        val tauF = docsCD.agg(
          expr("greatest(CAST(4 AS BIGINT), count(1) DIV 250) AS t"))
        val (_, _, nFp, _, _) =
          graft.queries.Curation4.winnowRouteStats(
            graft.queries.Curation4.winnowExplode(docsCD), tauF)
        nFp
      }
      // VERDICT-r9 item 4: the q202 CDC decade row. r16 measured
      // 1×/10× astride the broadcast→shuffle plan transition, so the
      // at-scale claim ("digest-mass-linear past the transition") was
      // asserted, not measured — this row pins it at 30× with wall +
      // shuffle rows/bytes. Same shipped builder as r16 (no drift).
      time(s"cdc chunk dedup @${mult}x (decade row)") {
        val chunks = graft.queries.Curation4.cdcChunkFrame(docsR)
          .localCheckpoint()
        val mn = chunks.groupBy("dg").agg(min(col("doc_id")).as("m"))
        chunks.join(mn, "dg").groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("m") < col("doc_id"), 1L).otherwise(0L))
              .as("n_dup"))
          .count()
      }
      }

      if (doR18) {
      // --- round-10: the q216 frontier-scheduler shape (shipped
      // builder — no probe drift). The host space is FIXED (97 hosts)
      // while the corpus replicates, which is the adversarial frontier
      // profile: per-host queues grow with the crawl. The prediction
      // the probe checks: shuffle RECORDS stay ~flat (bounded by
      // keys × map partitions — collect_list partials are per-key
      // per-partition), while shuffle BYTES grow linearly with the
      // corpus because the fetch queue itself (the URL list) is the
      // payload — output-mass-linear, the operator's declared floor.
      val docsF = table(spark, sfDir, "documents")
        .crossJoin(spark.range(mult).select(col("id").as("rep")))
        .select((col("doc_id") * mult + col("rep")).as("doc_id"))
      // consume order_md5 in the probe sink: a bare .count() lets
      // Catalyst's column pruning DELETE the collect_list aggregate
      // from the plan (measured: 3.7 KB shuffled for 300k URLs), so
      // the timed row below forces the real fetch-queue payload
      // through the exchange
      time(s"frontier schedule @${mult}x") {
        graft.queries.Crawl.frontierSchedule(spark, docsF)
          .agg(count(lit(1)), max(col("order_md5")),
            sum(col("makespan_s"))).collect()
        1L
      }
      time(s"frontier schedule PRUNED (count-only) @${mult}x") {
        graft.queries.Crawl.frontierSchedule(spark, docsF).count()
      }
      // --- q225 source-overlap matrix: sources FIXED (20), corpus
      // replicated with rep-distinct vocabulary (the regex-replace
      // re-word trick, q205's probe corpus) so distinct (source, h)
      // pairs grow ~linearly while the matrix stays sources² rows.
      // Prediction: shuffle tracks the distinct-pair mass linearly;
      // per-hash join fan-out is bounded by sources² by construction.
      val docsS = table(spark, sfDir, "documents")
        .crossJoin(spark.range(mult).select(col("id").as("rep")))
        .select(col("source"),
          when(col("rep") === 0, col("text"))
            .otherwise(regexp_replace(col("text"), lit(" "),
              concat(lit(" v"), col("rep"), lit(" ")))).as("text"))
      time(s"source overlap matrix @${mult}x") {
        graft.queries.Crawl.sourceOverlap(spark, docsS).count()
      }
      }

      if (doR19) {
      // --- round-11: the q230/q237 rank→budget pipeline (shipped
      // builders). Host space FIXED (97 hosts, 291 edges) while the
      // corpus replicates — the prediction: the link EXTRACTION is
      // the corpus-linear narrow map the frontier already pays, and
      // everything after (5 rank rounds + the apportionment window)
      // is host-graph-sized, so shuffle rows stay ~FLAT while wall
      // tracks the extraction scan.
      val docsF19 = table(spark, sfDir, "documents")
        .crossJoin(spark.range(mult).select(col("id").as("rep")))
        .select((col("doc_id") * mult + col("rep")).as("doc_id"))
      time(s"host rank (5 PR rounds) @${mult}x") {
        graft.queries.Crawl.hostRank(spark, docsF19).count()
      }
      }

      if (doR20) {
      // --- round-12 (1): the q241 content-decode stack (chunked
      // de-framing + gzip inflate + md5 witness) over a replicated
      // corpus. Prediction: pure narrow map — wall linear in document
      // MASS, shuffle ~zero beside the count rollup.
      import spark.implicits._
      val docsF20 = table(spark, sfDir, "documents")
        .crossJoin(spark.range(mult).select(col("id").as("rep")))
        .select((col("doc_id") * mult + col("rep")).as("doc_id"),
          col("text"))
      time(s"content decode (chunked+gzip) @${mult}x") {
        docsF20.as[(Long, String)].map { case (id, text) =>
          val payload = text.getBytes("UTF-8")
          val gzb = {
            val bos = new java.io.ByteArrayOutputStream()
            val g = new java.util.zip.GZIPOutputStream(bos)
            g.write(payload); g.close()
            bos.toByteArray
          }
          val wire = new java.io.ByteArrayOutputStream()
          def w(str: String): Unit = wire.write(str.getBytes("US-ASCII"))
          val cut = gzb.length / 2
          Seq((0, cut), (cut, gzb.length)).foreach { case (a, b) =>
            w((b - a).toHexString + "\r\n"); wire.write(gzb, a, b - a)
            w("\r\n")
          }
          w("0\r\n\r\n")
          val msg = graft.multimodal.Http.renderRaw(200, "OK",
            Seq("Content-Type" -> "text/plain; charset=utf-8",
              "Content-Encoding" -> "gzip",
              "Transfer-Encoding" -> "chunked"), wire.toByteArray)
          val (_, dec, _, cm) =
            graft.multimodal.Http.parseResponseFullyDecoded(msg).get
          (id, dec.length.toLong, cm.decoded)
        }.filter(_._3).count()
      }
      // --- round-12 (2): the de-weaked q237 apportionment at HOST
      // counts the production frontier actually sees (the corpus-
      // derived host space is fixed at 97, so this probes a SYNTHETIC
      // host dimension: 100k·mult hosts). Prediction: the remainder
      // rank rides the RunningTotal two-phase scan — one range
      // exchange of N host rows across 32 tasks + 32 bounded carry
      // rows; wall stays sub-linear in N, and no single task sorts
      // the frame (the pre-fix WindowExec shape).
      val nHosts = 100000L * mult
      time(s"apportionment ${nHosts / 1000}k hosts") {
        val hosts = spark.range(nHosts)
          .select(concat(lit("h"), col("id")).as("host"),
            (col("id") % 1000L + 1000L).as("pr"))
        // the SHIPPED builder (probe discipline — review-r12: this
        // was a third hand-synced copy of the apportionment chain).
        // Collect the SUM itself: a bare count() over a global
        // aggregate lets column pruning delete the whole rank chain
        // and the probe would measure nothing
        graft.queries.Crawl.apportion(hosts, 100000000L)
          .agg(sum(col("quota"))).collect().head.getLong(0)
      }
      }

      if (doR21) {
      // --- round-13 (VERDICT-r12 item 7): the q126 wall SPLIT — the
      // committed boards drifted 7.8 → 9.9 s across two rounds and
      // the solo re-pin reproduces ~10 s, so the drift is real.
      // Question: is it the per-batch MERGE COMPUTE (band join +
      // incremental CC) or the streaming engine's per-batch COMMIT
      // overhead (offset/commit log, trigger scheduling, state
      // bookkeeping)? The probe drives the IDENTICAL per-batch
      // computation two ways from the same day-0 state: a plain loop
      // over the same 4 staged files, and the real foreachBatch
      // drain. stream − loop = pure commit overhead. Prediction: the
      // compute half is micro-batch-sized (flat per the r15-family
      // probes); the drift lives in the fixed commit cost, which
      // AMORTIZES at production batch sizes (4 commits for sf0.1's
      // tiny batches is the worst case, not the scale shape).
      val raw126 = table(spark, sfDir, "documents")
      def bandsOf126(df: DataFrame): DataFrame =
        df.select(col("doc_id"), posexplode(
          graft.functions.GraftFunctions.minhashBands(spark,
            graft.functions.GraftFunctions.shingles(spark, col("text")))))
          .toDF("doc_id", "bi", "bv")
      def pairsBetween126(l: DataFrame, r: DataFrame): DataFrame =
        l.toDF("l_id", "bi", "bv")
          .join(r.toDF("r_id", "bi", "bv"), Seq("bi", "bv"))
          .filter(col("l_id") =!= col("r_id"))
          .select(least(col("l_id"), col("r_id")).as("a_id"),
            greatest(col("l_id"), col("r_id")).as("b_id"))
          .distinct()
      val prevParts126 = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "8") // as q126
      var index0: DataFrame = null
      var forest0: DataFrame = null
      time("q126 split: day-0 setup") {
        index0 = bandsOf126(raw126.filter(col("doc_id") % 10 =!= 0))
          .localCheckpoint()
        forest0 = graft.dedup.Dedup.dupClusters(
          pairsBetween126(index0, index0)).localCheckpoint()
        forest0.count()
      }
      val inDir126 = graft.queries.Common.scratchDir("probe_sic", sfDir)
      raw126.filter(col("doc_id") % 10 === 0).select("doc_id", "text")
        .repartitionByRange(4, col("doc_id"))
        .write.mode("overwrite").parquet(inDir126)
      def batchBody(index: DataFrame, forest: DataFrame,
          batch: DataFrame): (DataFrame, DataFrame) = {
        val bb = bandsOf126(batch).localCheckpoint()
        val newPairs = pairsBetween126(bb, index)
          .union(pairsBetween126(bb, bb)).distinct()
        (index.union(bb).localCheckpoint(),
          graft.dedup.Dedup.incrementalClusters(forest, newPairs)
            .localCheckpoint())
      }
      time("q126 split: 4-batch LOOP (compute only)") {
        var index = index0
        var forest = forest0
        val files = new java.io.File(inDir126).listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
        files.foreach { f =>
          val batch = spark.read.parquet(f)
          val (i2, f2) = batchBody(index, forest, batch)
          index = i2; forest = f2
        }
        forest.count()
      }
      time("q126 split: 4-batch STREAM drain (compute + commit)") {
        var index = index0
        var forest = forest0
        val chk126 = graft.queries.Common.scratchDir("probe_sic_chk",
          sfDir)
        val q = spark.readStream
          .schema(raw126.select("doc_id", "text").schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir126)
          .writeStream
          .option("checkpointLocation", s"$chk126/_chk")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val (i2, f2) = batchBody(index, forest, batch)
            index = i2; forest = f2
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        forest.count()
      }
      spark.conf.set("spark.sql.shuffle.partitions", prevParts126)
      }

      if (doCC) {
      time(s"cc: ${mult}k-node chain + ${5 * mult}k pair comps") {
        // worst-case diameter (a pure chain — min-label propagation
        // would need n/2 rounds) planted next to bulk small components;
        // star contraction must stay O(log² n) rounds at every size
        val n = 1000L * mult
        val chain = spark.range(n - 1)
          .select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
        val pairs = spark.range(5000L * mult)
          .select((col("id") * 2 + n).as("a_id"), (col("id") * 2 + n + 1).as("b_id"))
        graft.dedup.Dedup.dupClusters(chain.union(pairs)).count()
      }
      }

      if (doR22) {
      // --- round-13 (T169/T170): URL-alias clustering + hreflang
      // bitext mining at mult×. Claim: the wall is the narrow
      // extraction map (mass-linear, zero shuffle); the shuffle
      // carries ONE small row per page (key, url, lang, fp) — never
      // document text — so shuffle rows must grow exactly linearly.
      // Replicas decorrelate by id offset (rep·10M): per-replica
      // article/self keys stay distinct, while q259's shape-2 origin
      // stories DELIBERATELY collide across replicas (40 hot
      // syndication keys whose clusters grow mult×) — the hot-key
      // shape real syndicated content produces, absorbed by
      // partial-aggregable count/min (no row blowup, no skew stall).
      import spark.implicits._
      val idsR22 = table(spark, sfDir, "documents").select(col("doc_id"))
        .crossJoin(spark.range(mult)
          .select((col("id") * 10000000L).as("off")))
        .select((col("doc_id") + col("off")).as("id"))
        .localCheckpoint()
      time(s"canonical alias clusters x$mult") {
        idsR22.as[Long].map(graft.queries.Crawl2.canonicalRow)
          .toDF("doc_id", "page_url", "canonical_key", "is_self")
          .groupBy("canonical_key")
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("rep"))
          .count()
      }
      time(s"hreflang bitext mining x$mult") {
        idsR22.as[Long].map(graft.queries.Crawl2.hreflangRow)
          .toDF("ckey", "lang", "url", "alts", "fp")
          .groupBy("ckey")
          .agg(collect_list(struct(col("lang"), col("url"),
            col("alts"), col("fp"))).as("ms"))
          .as[(String, Seq[(String, String, Seq[String], String)])]
          .map { case (k, ms) =>
            graft.queries.Crawl2.hreflangVerdict(k, ms) }
          .toDF("ckey", "n_pages", "langs", "n_pairs", "n_recip",
            "n_fp_reject", "n_aligned")
          .agg(sum(col("n_aligned")).as("aligned"),
            sum(col("n_recip")).as("recip"))
          .count()
      }
      }

      if (doR23) {
      // --- round-14 (T180–T185) shapes ---
      import spark.implicits._
      import graft.text.TextFunctions.windowHashes
      val docsR23 = table(spark, sfDir, "documents")
        .crossJoin(spark.range(mult).select(col("id").as("rep")))
        .select((col("doc_id") * mult + col("rep")).as("doc_id"),
          col("text"), col("rep"))
        .localCheckpoint()
      // Multiscale window dedup (q271 shape): 4 tiers ride ONE scan
      // and ONE (tier, hash) exchange — shuffle rows = Σ_tier
      // positions, so the probe must read exactly linear in mult.
      // Replicas decorrelate by the r15 rep-token interleave (dup
      // mass stays intra-replica; a naive replication would measure
      // the ×mult² cross-replica explosion instead of the shape).
      time(s"multiscale windows 64/32/16/8 x$mult") {
        val t = docsR23.select(col("doc_id"),
          split(regexp_replace(
            regexp_replace(col("text"), lit("\\s+"), lit(" ")),
            lit(" "), concat(lit(" z"), col("rep").cast("string"),
              lit(" "))), " ").as("ws"))
          .filter(size(col("ws")) >= 8)
        val tierWins = Seq(64, 32, 16, 8).map { l =>
          transform(windowHashes(col("ws"), l),
            (wh, i) => struct(lit(l).as("tier"), (i + 1).as("i"),
              wh.as("wh")))
        }
        val wins = t.select(col("doc_id"),
            explode(flatten(array(tierWins: _*))).as("x"))
          .select(col("doc_id"), col("x.tier").as("tier"),
            col("x.wh").as("wh"))
          .localCheckpoint()
        val dup = wins.groupBy("tier", "wh")
          .agg(countDistinct("doc_id").as("nd"))
          .filter(col("nd") > 1).select("tier", "wh")
        wins.join(dup, Seq("tier", "wh"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1))).count()
      }
      // Char-3-gram lang scorer (q272 shape): the corpus shuffles
      // ONCE as per-doc (bucket, count) histogram rows (≤4096/doc,
      // partial-aggregated map-side); the model table is bounded
      // (langs × 4096) at ANY corpus size, so only the histogram leg
      // may grow — linearly.
      time(s"ngram lang histograms x$mult") {
        val cs = docsR23
          .filter(expr("char_length(text) >= 3"))
          .select(col("doc_id"),
            expr("transform(sequence(1, char_length(text)), " +
              "i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))").as("cs"))
        cs.select(col("doc_id"),
            explode(expr("transform(sequence(1, size(cs) - 2), " +
              "i -> ((element_at(cs, i) * 31 + element_at(cs, i + 1)) " +
              "* 31 + element_at(cs, i + 2)) % 1000000007 % 4096)"))
              .as("b"))
          .groupBy("doc_id", "b").agg(count(lit(1)))
          .count()
      }
      // PDF synth+extract and the content router (q270/q275 shape):
      // pure narrow per-row tiers — the probe pins ZERO shuffle rows
      // at every multiplier (payload bytes never leave the task).
      time(s"pdf extract narrow x$mult") {
        docsR23.select(col("doc_id"), col("text")).as[(Long, String)]
          .mapPartitions(_.map { case (id, text) =>
            val ws = text.split("\\s+").toSeq.filter(t =>
              t.nonEmpty && t.forall(c => c >= 0x20 && c <= 0x7e))
            if (ws.isEmpty) 0L
            else graft.multimodal.Pdf.extractText(
              graft.multimodal.Pdf.synthesize(Seq(ws),
                if (id % 2 == 0) "flate" else "objstm")).nTextOps
          })
          .filter(_ > 0L).count()
      }
      // Bitext decontamination (q274 shape): both sides reduce to
      // 16-byte sentence keys in narrow maps; the ONE exchange is the
      // key equi-join + per-story rollup — rows linear in mult.
      time(s"bitext decontamination keys x$mult") {
        val pool = docsR23.select(col("doc_id"), col("text"))
          .as[(Long, String)]
          .flatMap { case (_, text) =>
            graft.text.Sentences.split(text)
              .map(s => md5Hex(s.getBytes("UTF-8"))) }
          .toDF("k").distinct()
        val mined = docsR23.select(col("doc_id"), col("text"))
          .as[(Long, String)]
          .filter(_._1 % 3 == 0)
          .flatMap { case (id, text) =>
            (0 until 4).map(i =>
              (id / 3, md5Hex(s"S$i $id $text".getBytes("UTF-8")))) }
          .toDF("story", "src_k")
        mined.join(pool, mined("src_k") === pool("k"), "left")
          .groupBy("story")
          .agg(count(lit(1)), sum(when(col("k").isNotNull, 1L)
            .otherwise(0L)))
          .count()
      }
      }

      if (doR24) {
      // --- round-15 (T189/T190) shapes ---
      import spark.implicits._
      // rep-token interleave decorrelates replicas (the r23
      // discipline): duplicated substrings stay INTRA-replica, so the
      // probe reads the operator's shape, not a ×mult² cross-replica
      // dup explosion
      val docsR24 = table(spark, sfDir, "documents")
        .crossJoin(spark.range(mult).select(col("id").as("rep")))
        .select((col("doc_id") * mult + col("rep")).as("doc_id"),
          regexp_replace(
            regexp_replace(col("text"), lit("\\s+"), lit(" ")),
            lit(" "), concat(lit(" z"), col("rep").cast("string"),
              lit(" "))).as("text"))
        .localCheckpoint()
      // Exact dup-substring (q280 / T190): round 0 is the one
      // corpus-sized exchange (positions, fixed-width rows); the
      // tied set after round 0 is the dup mass, which the interleave
      // keeps linear in mult — so wall AND shuffle rows must read
      // linear, and the tied-set fraction ~constant.
      time(s"exact-dup suffix rounds x$mult") {
        graft.queries.Curation6.exactDupFrom(docsR24).count()
      }
      // the decay evidence: positions vs the still-tied set after a
      // first full-block (16-token) refinement — the fraction is the
      // per-round cost model at 100 TB
      time(s"exact-dup round-0 decay x$mult") {
        val hs = docsR24
          .select(col("doc_id"),
            graft.text.TextFunctions.words(col("text")).as("ws"))
          .filter(size(col("ws")) >= 1)
          .select(col("doc_id"), transform(col("ws"),
            w => graft.queries.Common.hash32(w)).as("hs"))
        val pos = hs.select(col("doc_id"),
            explode(sequence(lit(1), size(col("hs")))).as("pos"),
            col("hs"))
          .select(col("doc_id"), col("pos"),
            when(size(col("hs")) - col("pos") + 1 >= 16,
              slice(col("hs"), col("pos"), lit(16))).as("blk"))
        val nPos = pos.count()
        val tied = pos.filter(col("blk").isNotNull)
          .groupBy("blk").agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2)
          .agg(sum("c")).as[Long].head()
        println(s"[scale]   positions=$nPos tied-after-16=$tied " +
          f"(${100.0 * tied / nPos}%.2f%%)")
        nPos
      }
      // Router scoring leg (q279 / T189): the model is langs×4096 at
      // ANY corpus size — only the histogram exchange grows (probed
      // as "ngram lang histograms" in r23); here the score join:
      // histogram rows × broadcast model, shuffle = histogram-sized.
      time(s"router score join x$mult") {
        val hist = docsR24
          .filter(expr("char_length(text) >= 3"))
          .select(col("doc_id"),
            explode(expr("transform(sequence(1, char_length(text) - 2)," +
              " i -> (ascii(substr(text, i, 1)) * 31 + " +
              "ascii(substr(text, i + 1, 1))) * 31 + " +
              "ascii(substr(text, i + 2, 1)))")).as("g"))
          .select(col("doc_id"), (col("g") % 1000000007 % 4096).as("b"))
          .groupBy("doc_id", "b").agg(count(lit(1)).as("nb"))
        val model = spark.range(5).select(col("id").as("lang"))
          .crossJoin(spark.range(4096).select(col("id").as("b")))
          .select(col("lang"), col("b"),
            (col("b") * 31 + col("lang")).as("w"))
        hist.join(broadcast(model), "b")
          .groupBy("doc_id", "lang")
          .agg(sum(col("nb") * col("w")))
          .count()
      }
      }

      if (doR25) {
      // --- round-16 (q280 round-0 skew, VERDICT-r15 item 2) ---
      import spark.implicits._
      // Deterministic Zipf(s=1) corpus over a 1000-word vocabulary
      // (inverse-CDF over harmonic weights, LCG-driven): the hottest
      // token owns ~13% of positions — well past the "the"-at-3–5%
      // natural-text regime the verdict flagged. The old round-0
      // window (partitionBy on the position's own first token) puts
      // that entire 13% in ONE task; the range-partitioned global
      // neighbor pass must split it across tasks because the deeper
      // (blk, doc_id, pos) sort columns keep the keys distinct.
      val zipfBase = {
        val V = 1000
        val harm = (1 to V).map(1.0 / _)
        val cdf = harm.scanLeft(0.0)(_ + _).tail.map(_ / harm.sum).toArray
        var seed = 0x9E3779B97F4A7C15L
        def nextU(): Double = {
          seed = seed * 6364136223846793005L + 1442695040888963407L
          (seed >>> 11).toDouble / (1L << 53).toDouble
        }
        def rank(u: Double): Int = {
          val i = java.util.Arrays.binarySearch(cdf, u)
          (if (i >= 0) i else -i - 1) + 1
        }
        (0 until 1000).map { d =>
          val sb = new StringBuilder
          var t = 0
          while (t < 200) {
            sb.append('w').append(rank(nextU())).append(' '); t += 1 }
          (d.toLong, sb.toString.trim)
        }
      }.toDF("doc_id", "text")
      // rep-token interleave (the r23/r24 discipline) decorrelates
      // replicas; the interleave token is itself 50% of each
      // replica's positions — an even harsher single-key stress
      val zipfDocs = zipfBase
        .crossJoin(spark.range(mult).select(col("id").as("rep")))
        .select((col("doc_id") * mult + col("rep")).as("doc_id"),
          regexp_replace(col("text"), lit(" "),
            concat(lit(" z"), col("rep").cast("string"), lit(" ")))
            .as("text"))
        .localCheckpoint()
      // the skew evidence: hottest first-token mass vs the largest
      // range-partition task of round 0's global neighbor sort — the
      // number that shows no single task owns a hot token's group
      time(s"zipf round-0 range balance x$mult") {
        val hs = zipfDocs
          .select(col("doc_id"),
            graft.text.TextFunctions.words(col("text")).as("ws"))
          .filter(size(col("ws")) >= 1)
          .select(col("doc_id"), transform(col("ws"),
            w => graft.queries.Common.hash32(w)).as("hs"))
        val pos = hs.select(col("doc_id"),
            explode(sequence(lit(1), size(col("hs")))).as("pos"),
            col("hs"))
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            element_at(col("hs"), col("pos")).as("gA"),
            slice(col("hs"), col("pos"),
              least(lit(16), size(col("hs")) - col("pos") + 1)
                .cast("int")).as("blk"))
          .localCheckpoint()
        val tot = pos.count()
        val hot = pos.groupBy("gA").agg(count(lit(1)).as("c"))
          .agg(max("c")).as[Long].head()
        val parts = pos
          .repartitionByRange(32, col("blk"), col("doc_id"), col("pos"))
          .groupBy(spark_partition_id().as("pid"))
          .agg(count(lit(1)).as("c"))
          .agg(max("c"), count(lit(1))).as[(Long, Long)].head()
        println(f"[scale]   positions=$tot hottest-token=${
          100.0 * hot / tot}%.1f%% max-range-task=${
          100.0 * parts._1 / tot}%.1f%% over ${parts._2} tasks")
        tot
      }
      // end-to-end on the Zipf corpus: wall + shuffle rows must stay
      // linear in mult even with a 13%-mass token (the old plan's
      // round-0 window task would serialize here)
      time(s"zipf exact-dup rounds x$mult") {
        graft.queries.Curation6.exactDupFrom(zipfDocs).count()
      }
      }
    }
    spark.stop()
  }
}
