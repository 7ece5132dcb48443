package graft.queries

import org.apache.spark.sql.functions._

import Common._

/** Round-7 streaming addition (SURVEY §2.7 T91): watermark-scoped
  * streaming deduplication via Spark's `dropDuplicatesWithinWatermark`
  * — the operator a streaming ingest uses when exact-once dedup state
  * cannot grow forever. Deterministic by construction here: the OUTPUT
  * is the distinct digest set (order- and arrival-free), so the
  * streaming result equals the batch DISTINCT oracle exactly.
  */
object Streaming2 {

  val qs: Seq[Q] = Seq(
    Q("q179_stream_dedup_watermark",
      "streaming content dedup with BOUNDED state: documents replayed " +
        "as a stream, digests deduplicated via " +
        "dropDuplicatesWithinWatermark (state evicts past the " +
        "watermark — the 100 TB ingest answer where plain " +
        "dropDuplicates' state grows with the corpus), drained " +
        "exactly-once to parquet. Emission is the distinct digest SET " +
        "per source (arrival-order-free), so the driver's batch " +
        "DISTINCT oracle hash-matches the streaming result",
      Some("""SELECT source, md5(text) AS dg FROM documents
        GROUP BY source, md5(text) ORDER BY source, dg"""),
      (s, d) => {
        // replay the static table as a file stream (the q88/q102
        // harness pattern); a far-future watermark keeps every row
        // inside the dedup window for this bounded replay while the
        // OPERATOR is the state-evicting production form
        val scratch = scratchDir("stream_wmdedup", d)
        val stream = replayStream(s, d, "documents")
          .select(col("source"), md5(encode(col("text"), "UTF-8")).as("dg"),
            // synthetic event time: digest-derived, stable across runs
            timestamp_seconds(lit(1700000000L)).as("ts"))
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("source", "dg")
        drain(s, scratch) {
          stream.writeStream.format("parquet").option("path", s"$scratch/data")
        }
        s.read.parquet(s"$scratch/data")
          .select("source", "dg").orderBy("source", "dg")
      }),

    Q("q187_stream_containment_gate",
      "streaming containment ingest gate (T97): arriving documents " +
        "(doc_id % 10 = 0) are checked per micro-batch against a " +
        "STANDING inverted index of the accepted corpus for shingle " +
        "containment ≥ 0.5 — the ingest-time quote/excerpt filter. " +
        "Candidates via the recall-exact positional bound (T94: a " +
        "qualifying match must sit inside one side's prefix region, " +
        "so full×full joined-then-bounded equals the union of both " +
        "prefix probes), exact verification on full hash sets, " +
        "verdict = (n_contained, first match) per arriving doc — " +
        "emission is arrival-order-free, so the batch brute-force " +
        "oracle hash-matches the drained stream",
      Some(s"""WITH w AS (SELECT doc_id,
            regexp_split_to_array(text, '\\s+') AS ws FROM documents),
        sh AS (SELECT doc_id, list_distinct(list_transform(
            range(1, len(ws)-1),
            i -> array_to_string(ws[i:i+2], ' '))) AS sh FROM w),
        hh AS (SELECT doc_id, list_sort(list_distinct(list_transform(
            sh, s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)))) AS hs
          FROM sh),
        ev AS (SELECT * FROM hh WHERE doc_id % 10 = 0),
        tr AS (SELECT * FROM hh WHERE doc_id % 10 <> 0),
        scored AS (SELECT e.doc_id AS e_id, t.doc_id AS t_id,
            CAST(len(list_intersect(e.hs, t.hs)) AS BIGINT) AS ni,
            CAST(least(len(e.hs), len(t.hs)) AS BIGINT) AS mn
          FROM ev e JOIN tr t ON true),
        hits AS (SELECT e_id, t_id FROM scored WHERE ni * 2 >= mn)
        SELECT ev.doc_id,
          CAST(COALESCE(g.n, 0) AS BIGINT) AS n_contained,
          g.fm AS first_match
        FROM ev LEFT JOIN (SELECT e_id, COUNT(*) AS n, MIN(t_id) AS fm
          FROM hits GROUP BY e_id) g ON ev.doc_id = g.e_id
        ORDER BY ev.doc_id"""),
      (s, d) => {
        // standing side: the accepted corpus's hash sets + positional
        // inverted index, built once outside the stream (the q102
        // stream-static pattern); the hash frame is checkpointed so
        // batches re-probe without re-shingling
        def hashFrame(df: org.apache.spark.sql.DataFrame) =
          graft.dedup.Dedup.shingleFrame(df, "doc_id", "text")
            .select(col("doc_id"), graft.functions.Hash32Arr
              .sortedDistinct(s, col("sh")).as("hs"))
        val raw = table(s, d, "documents")
        val train = hashFrame(raw.filter(col("doc_id") % 10 =!= 0))
          .toDF("t_id", "t_hs").localCheckpoint()
        // VERDICT-r9 item 2 (reshaped r17): the positional inverted
        // index is exploded ONCE and pinned PRE-PARTITIONED AND SORTED
        // on `h`, so every micro-batch's candidate join reads the
        // index co-partitioned on the join key and only the BATCH side
        // exchanges — the same join property the round-9..16 bucketed
        // warehouse table provided (StreamingSpec still gates the
        // exchange count on this exact join), without re-writing the
        // corpus-sized index to parquet + a metastore table PER
        // invocation (measured: the bucketed write + read-back was
        // ~1 s of every q187 run; a localCheckpoint pins the identical
        // partitioning/ordering in the block manager — on a real
        // cluster this frame is the bucketed table, written once, and
        // the partition count follows index volume, not cores — the
        // q229 DrainShuffle sizing).
        val trainPos = train
          .select(col("t_id"), size(col("t_hs")).as("nb"),
            posexplode(col("t_hs")).as(Seq("j", "h")))
          .repartition(Common.DrainShuffle, col("h"))
          .sortWithinPartitions("h")
          .localCheckpoint()
        val stream = replayStream(s, d, "documents")
          .filter(col("doc_id") % 10 === 0)
          .select("doc_id", "text")
        val outDir = scratchDir("scontain", d)
        // Seed the sink with a zero-row frame of the result schema
        // (ADVICE-r8): if no arriving docs exist (no doc_id % 10 == 0
        // rows, or the glob matches nothing) foreachBatch never writes,
        // and the post-stream read would throw path-not-found — the
        // empty-corpus edge must degrade to an empty result, not a
        // crash. doc_id/first_match reuse the table's own id type so
        // the seed file merges cleanly with batch output.
        val idType = raw.schema("doc_id").dataType
        try {
        s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("doc_id", idType),
              org.apache.spark.sql.types.StructField("n_contained",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("first_match", idType))))
          .write.mode("append").parquet(s"$outDir/table")
        drain(s, outDir) {
        stream.writeStream
          .outputMode("append")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val eh = hashFrame(batch).toDF("e_id", "e_hs").localCheckpoint()
            val cand = eh.select(col("e_id"), size(col("e_hs")).as("na"),
                posexplode(col("e_hs")).as(Seq("i", "h")))
              .join(trainPos, "h")
              .filter((lit(1) + least(col("na") - col("i") - 1,
                col("nb") - col("j") - 1)) * 2 >=
                least(col("na"), col("nb")))
              .select("e_id", "t_id").distinct()
            // exact verify WITHOUT exchanging the standing corpus: the
            // candidate t_id set is batch-bounded (the positional
            // bound prunes it), so it broadcasts into a semi-reduction
            // of the checkpointed hash frame (local scan, no shuffle
            // write) and the reduced frame broadcasts into the verify
            // join — per-batch exchanges stay batch-side-only even
            // here (the round-9 shape shuffled the full train frame's
            // wide hash arrays per batch: 60-100 MB at 10-30× in the
            // r15 probe)
            val trainHit = train
              .join(broadcast(cand.select("t_id").distinct()), "t_id")
            val hits = cand
              .join(eh, "e_id").join(broadcast(trainHit), "t_id")
              .filter(size(array_intersect(col("e_hs"), col("t_hs"))) * 2
                >= least(size(col("e_hs")), size(col("t_hs"))))
              .groupBy("e_id")
              .agg(count(lit(1)).as("n"), min(col("t_id")).as("fm"))
            eh.select(col("e_id")).join(hits, Seq("e_id"), "left")
              .select(col("e_id").as("doc_id"),
                coalesce(col("n"), lit(0L)).as("n_contained"),
                col("fm").as("first_match"))
              .write.mode("append").parquet(s"$outDir/table")
          }
        }
        } finally {
          // release the pinned index/train blocks — the drained result
          // no longer reads them, and a bench session must not
          // accumulate checkpoint storage across reps (the q188
          // cache-release discipline, applied on FAILURE too)
          org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(trainPos)
          org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(train)
        }
        s.read.parquet(s"$outDir/table").orderBy("doc_id")
      })
  )
}
