package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}

import Common._
import graft.ops.Hashing.hash32
import graft.text.TextFunctions.words

/** Round-15 curation wave (SURVEY §2.7 T190): EXACT any-length
  * duplicated-substring resolution — the tier above q271's
  * {8,16,32,64} quantization (VERDICT-r14 item 6). q271 reports a
  * planted 100-token duplicate as one ~100-position span but charges
  * it to the 64 tier; this operator reports the match length EXACTLY
  * (100), up to a declared 128-token saturation cap.
  *
  * Algorithm — distributed MSD-radix suffix grouping with neighbor
  * LCP (the Lee et al. suffix-array answer re-shaped for Spark;
  * suffix ARRAYS need global ranks, but per-position LONGEST-MATCH
  * only needs each suffix's maximal-LCP partner, and that partner is
  * always an ADJACENT suffix in sorted order — so sorted-neighbor
  * comparison inside each refinement group suffices):
  *
  *  - tokens hash once to 32-bit lattice values (md5-prefix, the
  *    engine-portable family); TEXT NEVER SHUFFLES — every exchange
  *    below moves fixed-width hashes;
  *  - round r ∈ 0..7 groups the still-tied suffixes by their first
  *    16·r tokens (a 2×~30-bit rolling gid chain over full blocks —
  *    collision-safe to ~1e-9 at 1e5 positions, and IDENTICAL in the
  *    oracle, so both engines agree even on a collision);
  *  - within a group, suffixes sort by their next 16-token block
  *    (a partitionBy(gid) window — NEVER a global sort); a suffix
  *    whose block fully matches a neighbor's descends into the next
  *    round's subgroup, otherwise it DIES here with
  *    maxdup = 16·r + longest block-prefix shared with its sorted
  *    neighbors (exact: the best partner shares the 16·r prefix, so
  *    it is in the group, and block-sorted adjacency maximizes the
  *    block prefix);
  *  - survivors of all 8 rounds share ≥128 tokens and report the
  *    saturated cap.
  *
  * Scale shape: round 0 touches every token position once (the only
  * corpus-sized pass — most positions' first-token groups resolve
  * immediately); each later round re-joins only the still-tied rows
  * against the per-doc hash arrays (bucket docsH by doc_id on a real
  * cluster and the join is co-located every round), and natural text
  * decays the tied set geometrically — only true long duplicates pay
  * deep rounds. Partition skew at round 0 follows first-token
  * frequency; rounds ≥1 key on 32-byte-entropy gid chains.
  */
object Curation6 {

  private val BlockLen = 16
  private val Rounds = 8 // exact to 16·8 = 128 tokens, then saturated
  private val B1 = 1000003L
  private val P1 = graft.ops.Hashing.P // 1e9+7
  private val B2 = 999983L
  private val P2 = 998244353L // another public prime (NTT modulus)

  /** Longest shared prefix of two hash blocks (0 when `b` is null —
    * the no-neighbor case). zip_with pads the shorter side with
    * nulls, whose coalesced-false equality lands the first-false
    * marker at min-length+1, so the 0-sentinel of array_position
    * ("no false anywhere") only fires on equal-length full matches.
    */
  private def pl(a: Column, b: Column): Column = {
    val eq = zip_with(a, b, (x, y) => coalesce(x === y, lit(false)))
    val firstFalse = array_position(eq, false)
    when(b.isNull, lit(0L))
      .otherwise(when(firstFalse === 0, least(size(a), size(b))
        .cast("long")).otherwise(firstFalse - 1))
  }

  /** Rolling gid chain over a full block: fold((acc·B + h) mod P). */
  private def chain(g: Column, blk: Column, b: Long, p: Long): Column =
    aggregate(blk, g, (acc, h) => (acc * b + h) % p)

  /** Round-0 neighbor resolution WITHOUT a per-group window
    * (VERDICT-r15 item 2): the round-0 group key is the suffix's own
    * first token, so `Window.partitionBy(gA, gB)` put every position
    * of one token in ONE task — on a Zipf-vocabulary corpus the
    * hottest token ("the", 3–5% of positions) owns ~10¹¹ rows of a
    * 100 TB corpus in a single window task. But round 0 is also the
    * one round where the group key is a PREFIX of the sort block
    * (blk starts at the position itself), so group scoping is free:
    * a neighbor from a different first-token group shares a 0-length
    * block prefix by construction, exactly the 0 the old group-edge
    * null-neighbor produced. That licenses a GLOBAL neighbor pass
    * with no per-key task:
    *
    *  1. range-repartition on the full (blk, doc_id, pos) sort key —
    *     the range partitioner splits a hot first-token run across
    *     as many tasks as its mass demands, because the deeper sort
    *     columns keep the keys distinct;
    *  2. one per-partition pass (mapPartitions — genuinely
    *     sequential lag/lead logic) computes EVERYTHING the round
    *     needs per row — neighbor LCPs (`best`), the 2×~30-bit gid
    *     chains, the full-block flag — as plain long loops, so the
    *     corpus-sized checkpoint that follows carries only NARROW
    *     fixed-width columns (r16: the previous shape checkpointed
    *     blk+lagB+leadB, 3×16 longs ≈ 400 B/row, then re-derived
    *     best from per-row zip_with array allocations; measured
    *     4.5 s of q280's 7.4 s in round 0 alone). The sort block is
    *     kept ONLY on the ≤2 edge rows per task;
    *  3. the edge rows (≤ 2·partitions, corpus-size-independent) get
    *     their cross-task neighbor LCP from one tiny single-task
    *     window over the edge set — a subset of a total order
    *     preserves adjacency, so an edge row's neighbor among edge
    *     rows IS its global neighbor — and a broadcast join patches
    *     `best = greatest(in-task best, cross-task LCP)`.
    *
    * Emits (doc_id, pos, rem, ngA, ngB, best, full). Used by round 0
    * only: rounds ≥ 1 key their windows on the gid chains, where the
    * group IS required scoping (the block no longer contains the
    * group key) and hot keys require a corpus with a massively
    * duplicated ≥16-token block — the geometric-decay regime the r24
    * probe pins.
    */
  private def round0Neighbors(based: DataFrame): DataFrame = {
    val nPart = based.sparkSession.sessionState.conf.numShufflePartitions
    val sortCols = Seq(col("blk"), col("doc_id"), col("pos"))
    val sorted = based.repartitionByRange(nPart, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val inSchema = sorted.schema
    val iDoc = inSchema.fieldIndex("doc_id")
    val iPos = inSchema.fieldIndex("pos")
    val iRem = inSchema.fieldIndex("rem")
    val iG = inSchema.fieldIndex("gA")
    val iBlk = inSchema.fieldIndex("blk")
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", LongType, false),
      org.apache.spark.sql.types.StructField("pos", LongType, false),
      org.apache.spark.sql.types.StructField("rem", LongType, false),
      org.apache.spark.sql.types.StructField("ngA", LongType, true),
      org.apache.spark.sql.types.StructField("ngB", LongType, true),
      org.apache.spark.sql.types.StructField("best", LongType, false),
      org.apache.spark.sql.types.StructField("full",
        org.apache.spark.sql.types.BooleanType, false),
      org.apache.spark.sql.types.StructField("edge", IntegerType, false),
      // kept ONLY on edge rows (null elsewhere) for cross-task stitch
      org.apache.spark.sql.types.StructField("blk",
        ArrayType(LongType), true)))
    def lcp(a: Array[Long], b: Array[Long]): Long = {
      if (a == null || b == null) return 0L
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n && a(i) == b(i)) i += 1
      i.toLong
    }
    val paired = sorted.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else new Iterator[Row] {
        private val buf = it.buffered
        private var prevBlk: Array[Long] = null
        // lookahead conversion carried into the next iteration — each
        // row's blk Seq is converted exactly once (ADVICE r16)
        private var curBlk: Array[Long] = null
        private var first = true
        private def arr(r: Row): Array[Long] = {
          val s = r.getSeq[Long](iBlk)
          val out = new Array[Long](s.length)
          var i = 0
          while (i < out.length) { out(i) = s(i); i += 1 }
          out
        }
        def hasNext: Boolean = buf.hasNext
        def next(): Row = {
          val cur = buf.next()
          val blk = if (curBlk != null) curBlk else arr(cur)
          val leadBlk = if (buf.hasNext) arr(buf.head) else null
          curBlk = leadBlk
          val edge = (if (first) 1 else 0) | (if (!buf.hasNext) 2 else 0)
          val full = blk.length == BlockLen
          var ngA: Any = null
          var ngB: Any = null
          if (full) {
            val g = cur.getLong(iG)
            var a = g; var b = g
            var i = 0
            while (i < blk.length) {
              a = (a * B1 + blk(i)) % P1
              b = (b * B2 + blk(i)) % P2
              i += 1
            }
            ngA = a; ngB = b
          }
          val best = math.max(lcp(blk, prevBlk), lcp(blk, leadBlk))
          val r = Row(cur.get(iDoc), cur.get(iPos), cur.get(iRem),
            ngA, ngB, best, full, edge, if (edge > 0) blk.toSeq else null)
          prevBlk = blk
          first = false
          r
        }
      }
    }(Encoders.row(outSchema))
    // pinned: consumed by the edge extraction AND the patch join —
    // without the pin each consumer would re-run the corpus-sized
    // range exchange. Narrow by construction (see step 2 above).
    val pinned = Common.checkpointSer(paired)
    // cross-task stitching: ≤ 2 edge rows per task. In the edge set's
    // own (blk, doc_id, pos) order, a task-last row's successor is
    // the first row of the next non-empty task and a task-first row's
    // predecessor is the previous task's last row — empty range
    // partitions simply contribute nothing. Single-task window over a
    // corpus-size-independent frame.
    val wEdge = Window.orderBy(sortCols: _*)
    val patch = pinned.filter(col("edge") > 0)
      .select(col("doc_id"), col("pos"), col("blk"), col("edge"))
      .withColumn("extLagB", when(col("edge").bitwiseAND(1) === 1,
        lag(col("blk"), 1).over(wEdge)))
      .withColumn("extLeadB", when(col("edge").bitwiseAND(2) === 2,
        lead(col("blk"), 1).over(wEdge)))
      .select(col("doc_id"), col("pos"),
        greatest(pl(col("blk"), col("extLagB")),
          pl(col("blk"), col("extLeadB"))).as("extBest"))
    pinned.join(broadcast(patch), Seq("doc_id", "pos"), "left")
      .withColumn("best",
        greatest(col("best"), coalesce(col("extBest"), lit(0L))))
      .select(col("doc_id"), col("pos"), col("rem"),
        col("ngA"), col("ngB"), col("best"), col("full"))
  }

  private[graft] def exactDup(s: SparkSession, d: String): DataFrame = {
    val docsH = table(s, d, "documents")
      .select(col("doc_id"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 1)
      .select(col("doc_id"), transform(col("ws"), w => hash32(w)).as("hs"))
      .transform(Common.checkpointSer) // re-joined every round

    // round-0 state: every token position, grouped by its own token.
    // The group key IS the block's first element at round 0, so blk is
    // computed inline at explode time — no re-join against docsH.
    val based0 = docsH
      .select(col("doc_id"), col("hs"),
        explode(sequence(lit(1), size(col("hs")))).as("p"))
      .select(col("doc_id"), col("p").cast("long").as("pos"),
        (size(col("hs")) - col("p") + 1).cast("long").as("rem"),
        element_at(col("hs"), col("p")).as("gA"),
        slice(col("hs"), col("p"),
          least(lit(BlockLen), size(col("hs")) - col("p") + 1)).as("blk"))
    val dead = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var tied: DataFrame = null

    // Tie rule (r16, replaces the per-round subgroup-count groupBy +
    // join): a FULL row survives into the next round iff best ==
    // BlockLen. Equivalence with the old `sgc >= 2`: subgroup keys are
    // the gid chains, which are determined by (group, block); rows of
    // one subgroup therefore share the identical full block, identical
    // sort keys are adjacent within the window scope, so a subgroup of
    // size ≥ 2 gives every member a neighbor with LCP = BlockLen — and
    // conversely best = BlockLen forces a full equal-block neighbor,
    // i.e. a second subgroup member. (The old rule compared CHAINS and
    // would have agreed with itself across engines even on a ~1e-9
    // chain collision; this rule compares the blocks themselves on
    // both engines, so the two sides still agree by construction.)
    // This removes one groupBy exchange + one shuffle join + one eager
    // checkpoint per round — measured 1.3 s of round 0 alone at sf0.1.
    var r = 0
    var done = false
    while (r < Rounds && !done) {
      val off = r * BlockLen
      // narrow per-round frame: (doc_id, pos, rem, ngA, ngB, best, full)
      val resolved =
        if (r == 0) round0Neighbors(based0)
        else {
          val based = tied.join(docsH, "doc_id")
            .withColumn("blk", slice(col("hs"), col("pos") + lit(off),
              least(lit(BlockLen), col("rem") - lit(off)).cast("int")))
            .drop("hs")
            .withColumn("full", size(col("blk")) === BlockLen)
            .withColumn("ngA",
              when(col("full"), chain(col("gA"), col("blk"), B1, P1)))
            .withColumn("ngB",
              when(col("full"), chain(col("gB"), col("blk"), B2, P2)))
          val wOrd = Window.partitionBy("gA", "gB")
            .orderBy(col("blk"), col("doc_id"), col("pos"))
          Common.checkpointSer(based
            .withColumn("lagB", lag(col("blk"), 1).over(wOrd))
            .withColumn("leadB", lead(col("blk"), 1).over(wOrd))
            .withColumn("best", greatest(pl(col("blk"), col("lagB")),
              pl(col("blk"), col("leadB"))))
            .select(col("doc_id"), col("pos"), col("rem"),
              col("ngA"), col("ngB"), col("best"), col("full")))
        }
      // a row dies here when its block is short OR no subgroup partner
      dead += resolved.filter(!col("full") || col("best") < BlockLen)
        .select(col("doc_id"),
          (lit(off.toLong) + col("best")).as("maxdup"),
          lit(0).as("sat"))
      tied = resolved.filter(col("full") && col("best") === BlockLen)
        .select(col("doc_id"), col("pos"), col("rem"),
          col("ngA").as("gA"), col("ngB").as("gB"))
      // early exit: natural text decays the tied set geometrically;
      // once it is EMPTY the remaining rounds compute nothing but
      // would still pay join/window/checkpoint scheduling. The probe
      // is a take(1) over the round's checkpointed narrow frame.
      // SKIPPED at r=0 (ADVICE r16): round 0's resolved ends in an
      // UNPINNED broadcast-patch join (only its `pinned` input is
      // checkpointed), so the probe would execute that join over the
      // corpus checkpoint a second time — and a corpus with ZERO
      // 16-token duplicates exits one round later at round 1's
      // (empty, cheap) probe instead. (r17: an explicit checkpointSer
      // of the r0 tied set was measured SLOWER than the duplicate
      // probe it saved — board 3.25 → 4.3 s — and reverted to this.)
      if (r > 0 && tied.isEmpty) done = true
      r += 1
    }
    // survivors of all rounds share ≥ 16·Rounds tokens: saturated
    // (when the loop exited early, `tied` is empty and contributes
    // nothing — the union below is unchanged)
    dead += tied.select(col("doc_id"),
      lit((Rounds * BlockLen).toLong).as("maxdup"), lit(1).as("sat"))

    val all = dead.reduce(_.union(_))
    all.groupBy("doc_id")
      .agg(max(col("maxdup")).as("longest_dup"),
        max(col("sat")).as("saturated"),
        sum(when(col("maxdup") >= BlockLen, lit(1L)).otherwise(lit(0L)))
          .as("n_pos_ge16"))
      .join(docsH.select(col("doc_id"),
        size(col("hs")).cast("long").as("n_tokens")), "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("longest_dup"),
        col("saturated"), col("n_pos_ge16"))
      .orderBy(col("longest_dup").desc, col("doc_id")).limit(100)
  }

  /** The DuckDB twin — the same rounds unrolled as CTEs, the same
    * hash family, gid chains, window ordering and neighbor algebra.
    */
  private def exactDupSql: String = {
    // NB: DuckDB list_position returns 0 (not NULL) when the needle
    // is absent — NULLIF maps the not-found sentinel to min-length
    // (full prefix match), mirroring Spark array_position's 0 case
    def plSql(a: String, b: String): String =
      s"""CASE WHEN $b IS NULL THEN 0 ELSE COALESCE(
         NULLIF(list_position(list_transform(
           range(1, least(len($a), len($b)) + 1),
           i -> $a[CAST(i AS INT)] = $b[CAST(i AS INT)]), false), 0),
         least(len($a), len($b)) + 1) - 1 END"""
    val rounds = (0 until Rounds).map { r =>
      val off = r * BlockLen
      s"""b$r AS (SELECT t.doc_id, t.pos, t.rem, t.ga, t.gb,
          d.hs[CAST(t.pos + $off AS INT) :
            CAST(t.pos + $off + least($BlockLen, t.rem - $off) - 1
              AS INT)] AS blk
        FROM p$r t JOIN docs d USING (doc_id)),
      w$r AS (SELECT *,
          lag(blk) OVER win AS lagb, lead(blk) OVER win AS leadb,
          CASE WHEN len(blk) = $BlockLen THEN
            list_reduce(list_prepend(ga, blk),
              (a, h) -> (a * $B1 + h) % $P1) END AS nga,
          CASE WHEN len(blk) = $BlockLen THEN
            list_reduce(list_prepend(gb, blk),
              (a, h) -> (a * $B2 + h) % $P2) END AS ngb
        FROM b$r
        WINDOW win AS (PARTITION BY ga, gb ORDER BY blk, doc_id, pos)),
      s$r AS (SELECT *,
          greatest(${plSql("blk", "lagb")}, ${plSql("blk", "leadb")})
            AS best
        FROM w$r),
      d$r AS (SELECT doc_id, CAST($off + best AS BIGINT) AS maxdup,
          0 AS sat
        FROM s$r WHERE len(blk) < $BlockLen OR best < $BlockLen),
      p${r + 1} AS (SELECT doc_id, pos, rem, nga AS ga, ngb AS gb
        FROM s$r WHERE len(blk) = $BlockLen AND best = $BlockLen)"""
    }.mkString(",\n      ")
    val deadUnion = (0 until Rounds).map(r => s"SELECT * FROM d$r")
      .mkString("\n        UNION ALL ")
    s"""WITH docs AS (SELECT doc_id,
          list_transform($sqlWords, t -> ${sqlHash32("t")}) AS hs
        FROM documents WHERE len($sqlWords) >= 1),
      p0 AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
          CAST(len(hs) - i + 1 AS BIGINT) AS rem,
          hs[CAST(i AS INT)] AS ga, hs[CAST(i AS INT)] AS gb
        FROM docs, LATERAL (SELECT unnest(generate_series(1, len(hs)))
          AS i) g),
      $rounds,
      dead AS ($deadUnion
        UNION ALL SELECT doc_id,
          CAST(${Rounds * BlockLen} AS BIGINT) AS maxdup, 1 AS sat
        FROM p$Rounds),
      agg AS (SELECT doc_id, MAX(maxdup) AS longest_dup,
          MAX(sat) AS saturated,
          CAST(COUNT(*) FILTER (WHERE maxdup >= $BlockLen) AS BIGINT)
            AS n_pos_ge16
        FROM dead GROUP BY doc_id)
      SELECT a.doc_id, CAST(len(d.hs) AS BIGINT) AS n_tokens,
        longest_dup, CAST(saturated AS INT) AS saturated, n_pos_ge16
      FROM agg a JOIN docs d USING (doc_id)
      ORDER BY longest_dup DESC, doc_id LIMIT 100"""
  }

  val qs: Seq[Q] = Seq(
    Q("q280_exact_dup_substring",
      "EXACT any-length duplicated-substring resolution (T190 — " +
        "VERDICT-r14 item 6, the tier above q271's {8,16,32,64} " +
        "quantization): per token position, the exact length of the " +
        "longest substring starting there that occurs at least twice " +
        "in the corpus, by distributed MSD-radix suffix grouping — " +
        "16-token blocks refine suffix groups round by round " +
        "(2×30-bit rolling gid chains), and a suffix resolves its " +
        "exact match length against its block-sorted neighbors INSIDE " +
        "its group (partitioned windows, never a global sort) the " +
        "round its group stops extending; 8 rounds = exact to 128 " +
        "tokens, beyond reports the saturation cap. A planted " +
        "100-token duplicate reads EXACTLY 100 (Curation6Spec, plus " +
        "a brute-force referee on the real corpus). Per-doc rollup: " +
        "longest duplicated substring, saturation flag, positions " +
        "with ≥16-token matches, top 100 by longest. Scale shape: " +
        "text hashes once and never shuffles; round 0 is the one " +
        "corpus-sized exchange, later rounds touch only still-tied " +
        "suffixes (geometric decay on natural text)",
      Some(exactDupSql),
      (s, d) => exactDup(s, d))
  )
}
