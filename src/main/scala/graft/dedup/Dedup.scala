package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Hashing
import graft.text.TextFunctions

/** Deduplication operators for training-data pipelines, exact and
  * approximate, designed around Spark's shuffle model:
  *
  *  - exact: hash-groupBy on a content digest — one shuffle keyed by the
  *    digest, partial aggregation map-side; at 100 TB the digest (16 B)
  *    shuffles, never the document bytes.
  *  - MinHash + LSH banding: per-document signatures are a narrow
  *    codegen'd map (no shuffle); candidate generation shuffles only
  *    (doc_id, band_value) pairs, and genuinely-similar docs collide in
  *    ≥1 band with high probability. This is the scale path: exact
  *    Jaccard scoring runs over these candidates only (never all pairs).
  *  - SimHash: 32-bit locality-sensitive digest; near-dup candidates =
  *    small Hamming distance (bit_count(xor)).
  *
  * All expressions are oracle-reproducible (md5-based hash family,
  * [[Hashing]]).
  */
object Dedup {

  import Hashing.P

  /** Content digest for exact dedup. */
  def digest(c: Column): Column = md5(encode(c, "UTF-8"))

  /** Exact dedup: keep the smallest id per identical content. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(digest(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** j-th minhash of a shingle set: min over shingles of
    * (a_j * hash32(s) + b_j) mod P.
    */
  def minhash(shingles: Column, j: Int): Column =
    array_min(transform(shingles,
      s => Hashing.affine(Hashing.hash32(s), Hashing.HashA(j), Hashing.HashB(j))))

  /** n-hash minhash signature as named columns h0..h(n-1). */
  def minhashSignature(shingles: Column, n: Int): Seq[Column] =
    (0 until n).map(j => minhash(shingles, j).as(s"h$j"))

  /** HOF-composed signature frame, hashing each shingle once into a
    * materialized hash32 array before taking the n affine minima. This
    * is the REFERENCE implementation: production paths use
    * [[signatureFrame]] (the custom expression, ~20× fewer interpreted
    * lambda evals); DedupSpec asserts the two are bit-identical.
    */
  def withMinhashSignature(df: DataFrame, shCol: String, n: Int): DataFrame = {
    val keep = df.columns.filterNot(_ == shCol).map(col).toSeq
    df.withColumn("__hs", transform(col(shCol), s => Hashing.hash32(s)))
      .select(keep ++ (0 until n).map(j =>
        array_min(transform(col("__hs"),
          h => Hashing.affine(h, Hashing.HashA(j), Hashing.HashB(j)))).as(s"h$j")): _*)
  }

  /** LSH band values from a signature: consecutive pairs of minhashes
    * combined into one band key (r=2 rows/band). Docs sharing any band
    * value are near-dup candidates.
    */
  def bandValues(sig: Seq[Column]): Seq[Column] =
    sig.grouped(2).map(pair => pair.head * P + pair(1)).toSeq

  /** (id, h0..h(n-1)) signature frame via `graft_minhash_signature`
    * (kernel `ExprHelpers.minhash`) — one imperative pass per
    * document instead of ~600 interpreted lambda evals. The
    * `repartition(id)` is a projection barrier: without it,
    * CollapseProject inlines the signature into all n element_at
    * extractions (n× the md5 work), and it doubles as the shared
    * exchange that ReuseExchange dedups in self-joins.
    */
  def signatureFrame(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8, keep: Seq[String] = Nil): DataFrame = {
    require(n <= 8, "expression computes 8 hashes")
    // `keep` columns ride along with the signature so callers never need
    // a post-hoc id→attribute join (which at corpus scale would either
    // broadcast a linear-size map or shuffle the ids twice).
    val carried = (idCol +: keep).map(col)
    df.select(carried :+ graft.functions.GraftFunctions
        .minhashSignature(df.sparkSession, col(textCol)).as("sig"): _*)
      .repartition(col(idCol))
      .select(carried ++ (0 until n).map(j =>
        element_at(col("sig"), j + 1).as(s"h$j")): _*)
  }

  /** MinHash-LSH candidate pairs over a document frame — the scale path
    * end-to-end: shingle → signature → band → self-join on band value.
    *
    * The `repartition(id)` between signature and banding is load-bearing
    * twice over: (a) it is a projection barrier, stopping CollapseProject
    * from inlining the md5 signature chain into the band-explode
    * generator (measured 30× blowup without it); (b) it makes both sides
    * of the self-join share one identical exchange subtree, so
    * ReuseExchange computes signatures once, not twice. At cluster scale
    * this is exactly "materialize signatures, shuffle once, join within
    * bands".
    */
  /** @param maxBucket optional skew guard: band buckets holding more
    *        than this many docs are dropped before the self-join.
    *        Bucket sizes are heavy-tailed (a band whose minhash comes
    *        from a very common shingle collects a large fraction of the
    *        corpus), and one hot bucket contributes O(size²) candidate
    *        pairs while discriminating almost nothing — the standard
    *        LSH production mitigation is to cap or split such buckets.
    *        Default keeps exact banding semantics (no cap), which is
    *        what the oracle-checked queries use.
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      nHashes: Int = 8, maxBucket: Int = Int.MaxValue): DataFrame = {
    val sig = signatureFrame(df, idCol, textCol, nHashes)
    val allBands = sig.select(col(idCol),
      posexplode(array(bandValues((0 until nHashes).map(j => col(s"h$j"))): _*)))
      .toDF(idCol, "bi", "bv")
    val bands =
      if (maxBucket == Int.MaxValue) allBands
      else {
        val small = allBands.groupBy(col("bi"), col("bv"))
          .agg(count(lit(1)).as("__n")).filter(col("__n") <= maxBucket)
          .drop("__n")
        allBands.join(small, Seq("bi", "bv"), "left_semi")
      }
    // merge-hint pins the self-join to sort-merge: a broadcast of either
    // side (AQE picks one at small SF) breaks ReuseExchange and computes
    // the signature chain TWICE — with identical shuffle subtrees the
    // signatures are computed once and both sides read the same
    // exchange. At corpus scale the band frame exceeds any broadcast
    // threshold anyway, so this pins the plan we'd get at 100 TB.
    bands.as("a").join(bands.as("b").hint("merge"),
        col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
      .distinct()
  }

  /** (id, shingle-set) frame behind a `repartition(id)` barrier — the
    * shared-scan variant for pipelines that need the shingles DOWNSTREAM
    * of candidate generation (exact Jaccard scoring). Every consumer —
    * band generation, a-side scoring join, b-side scoring join — reads
    * the SAME exchange (ReuseExchange dedups the identical subtrees), so
    * the corpus is scanned and shingled exactly once. Pipelines that
    * only need signatures should keep [[signatureFrame]]: its exchange
    * carries 8 longs per doc instead of the full shingle array.
    */
  def shingleFrame(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    require(k == 3, "graft_shingles is registered for k = 3")
    df.select(col(idCol), graft.functions.GraftFunctions
        .shingles(df.sparkSession, col(textCol)).as("sh"))
      .repartition(col(idCol))
  }

  /** MinHash-LSH candidate pairs from a pre-built [[shingleFrame]].
    * Band values come from one imperative expression pass over the
    * shingle array (`graft_minhash_bands`, bit-identical
    * to banding [[signatureFrame]] — asserted in DedupSpec), evaluated
    * once per row inside the Generate. Same merge-hinted self-join as
    * [[lshCandidatePairs]] so the band exchange is reused across sides.
    */
  def lshCandidatePairsFromShingles(sh: DataFrame, idCol: String = "doc_id",
      shCol: String = "sh"): DataFrame = {
    val bands = sh.select(col(idCol),
      posexplode(graft.functions.GraftFunctions
        .minhashBands(sh.sparkSession, col(shCol))))
      .toDF(idCol, "bi", "bv")
    bands.as("a").join(bands.as("b").hint("merge"),
        col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
      .distinct()
  }

  /** Transitive duplicate clusters from candidate pairs: the connected
    * components of the graph whose edges are the (a_id, b_id) rows.
    * Other columns on `pairs` (a score, say) are ignored.
    *
    * The pairs are pinned once (`select(a_id, b_id)`, local checkpoint)
    * and one aggregate over the pin counts the edges and the rows with
    * a null id. That observed size picks one of two exact routes:
    *  - one task: long ids, no null id and at most
    *    [[LocalContractMaxEdges]] (2M) edges go to [[localClusters]], a
    *    min-label union-find whose state is bounded at ≤ 192 MiB
    *    (≤ 4M distinct ids in a [[LongLongMap]]). Before the caller's
    *    own action it costs the aggregate's one job, where the rounds
    *    run one job a round plus the convergence confirm and the node
    *    list.
    *  - rounds: every other graph takes the distributed star contraction
    *    of [[roundsClusters]], whose cost grows with the graph, not with
    *    one task's memory.
    *
    * Both routes return (doc_id, cluster_id = smallest doc_id in the
    * component) for every doc that appears in at least one pair; a null
    * id (rounds route only) labels itself null.
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    // eager=false: the aggregate right below is the materializing action
    val p0 = pairs.select(col("a_id"), col("b_id")).localCheckpoint(eager = false)
    val idsAreLong = p0.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    val size = p0.agg(count(lit(1)),
      count(when(col("a_id").isNull || col("b_id").isNull, 1))).head()
    if (idsAreLong && size.getLong(1) == 0 && size.getLong(0) <= LocalContractMaxEdges)
      localClusters(p0) // reads the pin lazily: it stays
    else {
      val out = roundsClusters(p0, maxIter)
      // the rounds pinned their own copy and return frames over their
      // own checkpoints only
      org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(p0)
      out
    }
  }

  /** The distributed route of [[dupClusters]]: connected components via
    * alternating LARGE-STAR / SMALL-STAR contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — O(log² n) rounds
    * regardless of component diameter, vs O(diameter) for plain
    * min-label propagation. A 1M-node chain converges in ~20 rounds
    * instead of 500k; dup clusters at 100 TB can contain exactly such
    * long chains of pairwise-similar shards.
    *
    * Edges are kept directed child→parent with child > parent:
    *  - large-star: every strictly-larger neighbor of x re-points to
    *    min(N(x) ∪ {x});
    *  - small-star: every parent of x (all smaller than x), and x
    *    itself, re-point to x's minimum parent.
    * At fixpoint the edge set is a union of stars whose centers are the
    * component minima.
    *
    * One action per half-round: each new edge set is `localCheckpoint`ed
    * (truncating the iterative-join lineage — without it round i
    * re-executes all previous rounds) and the convergence check is a
    * (count, hash-sum) checksum aggregate over the already-materialized
    * checkpoint, confirmed with an exact `except` only when the checksum
    * says "stable" — no per-round isEmpty re-plan.
    *
    * Logs a loud warning if maxIter is hit before the fixpoint (callers
    * get best-effort labels, never silently-partial ones).
    */
  private[graft] def roundsClusters(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    // Materialize the incoming pair pipeline ONCE: both the canonical
    // edge set and the node list below read this checkpoint. Deriving
    // nodes straight from `pairs` would re-execute the whole candidate
    // pipeline (LSH banding + any exact-scoring joins) a second time.
    // eager=false everywhere: the checksum aggregate right after each
    // checkpoint is the materializing action, so every round costs ONE
    // job (checkpoint write + checksum in the same pass) instead of two
    val p0 = pairs.localCheckpoint(eager = false)
    // canonical child→parent (child > parent) edges
    var edges = p0
      .filter(col("a_id") =!= col("b_id"))
      .select(greatest(col("a_id"), col("b_id")).as("child"),
        least(col("a_id"), col("b_id")).as("parent"))
      .distinct()
      .localCheckpoint(eager = false)

    def checksum(e: DataFrame): (Long, String) = {
      // decimal(38,0) accumulator: a long sum of 64-bit hashes overflows
      // under ANSI mode
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("child"), col("parent")).cast("decimal(38,0)"))).head()
      (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
    }

    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("child").as("x"), col("parent").as("y"))
        .union(e.select(col("parent").as("x"), col("child").as("y")))
      val mins = nbrs.groupBy(col("x"))
        .agg(least(min(col("y")), col("x")).as("m"))
      // no distinct here: smallStar's aggregation and final distinct are
      // duplicate-tolerant, and dropping it saves one full-edge-set
      // shuffle per contraction round
      nbrs.join(mins, "x")
        .filter(col("y") > col("x"))
        .select(col("y").as("child"), col("m").as("parent"))
        .filter(col("child") =!= col("parent"))
    }

    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("child")).agg(min(col("parent")).as("m"))
      val hookedParents = e.join(mins, "child")
        .select(col("parent").as("child"), col("m").as("parent"))
        .filter(col("child") =!= col("parent"))
      hookedParents.union(mins.select(col("child"), col("m").as("parent")))
        .distinct()
    }

    var chk = checksum(edges)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(eager = false)
      val c2 = checksum(next) // materializes the checkpoint
      // checksum equality is necessary; confirm with one exact set
      // compare (runs only on the final round, over checkpointed data)
      converged = c2 == chk && next.except(edges).isEmpty
      // superseded round: release its block-manager storage now rather
      // than at session GC (rounds × edge-set otherwise stays pinned)
      org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(edges)
      chk = c2
      edges = next
      iter += 1
    }
    if (!converged) {
      System.err.println(s"[graft] dupClusters did NOT converge within " +
        s"$maxIter rounds — labels may be partial for very elongated components")
    }
    // node list from the checkpointed pairs (small: distinct ids), then
    // release the pair checkpoint — the result only needs nodes + stars
    val nodes = p0.select(col("a_id").as("doc_id"))
      .union(p0.select(col("b_id").as("doc_id"))).distinct()
      .localCheckpoint()
    org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(p0)
    nodes.join(
        edges.groupBy(col("child")).agg(min(col("parent")).as("parent"))
          .select(col("child").as("doc_id"), col("parent")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("parent"), col("doc_id")).as("cluster_id"))
  }

  /** Incremental connected-components maintenance: merge a batch of NEW
    * candidate pairs into an existing labeling without recomputing the
    * old corpus's clusters from scratch.
    *
    * `prev` is a (doc_id, cluster_id) frame as produced by
    * [[dupClusters]] — semantically a depth-1 star forest whose centers
    * are component minima. New edges can only change the clusters they
    * TOUCH, so the recompute is confined to exactly those: the affected
    * subgraph is (star edges of touched clusters) ∪ (new pairs), which
    * [[dupClusters]] contracts starting from depth-1 stars — O(touched)
    * work, not O(corpus). Untouched clusters pass through by identity.
    * Labels stay canonical (cluster_id = component minimum): every
    * member and center of a touched cluster appears in the subgraph, so
    * the merged component's minimum is the global one.
    *
    * At 100 TB this is the ingest-time shape: the nightly batch's LSH
    * pairs (or q102's streaming verdicts) touch a few thousand clusters;
    * the billions of settled labels are never shuffled — the touched
    * filter is a semi-join on cluster_id, and only touched members flow
    * into the contraction rounds.
    *
    * Returns the complete new labeling over prev's nodes ∪ the new
    * pairs' nodes.
    */
  def incrementalClusters(prev: DataFrame, newPairs: DataFrame,
      maxIter: Int = 30): DataFrame = {
    // prev is typically itself the tail of a join pipeline; pin it so
    // the three consumers below (touched semi-join, affected members,
    // untouched anti-join) read one materialization.
    val p = prev.select(col("doc_id"), col("cluster_id"))
      .localCheckpoint(eager = false)
    val np = newPairs.select(col("a_id"), col("b_id"))
      .localCheckpoint(eager = false)
    // The broadcasts below are the whole point of the incremental path:
    // touchedNodes/touchedClusters are bounded by the BATCH (≤ 2·edges
    // clusters), so all three probes of the settled forest are
    // broadcast joins — p streams map-side and is never shuffled. The
    // checkpointed LogicalRDDs carry no size stats, so without the
    // explicit hints the planner assumes worst-case and sort-merges,
    // shuffling the entire forest (measured: 15M rows shuffled for a
    // 100-edge batch over a 10M-node forest; ~7k with the hints). A
    // batch too large to broadcast its touched set belongs in the full
    // [[dupClusters]] recompute instead.
    val touchedNodes = broadcast(np.select(col("a_id").as("doc_id"))
      .union(np.select(col("b_id").as("doc_id"))).distinct())
    val touchedClusters = broadcast(
      p.join(touchedNodes, Seq("doc_id"), "left_semi")
        .select(col("cluster_id")).distinct())
    val affected = p.join(touchedClusters, Seq("cluster_id"), "left_semi")
    // star edges of touched clusters (center self-rows carry no edge) +
    // the new batch; the contraction below re-labels this small graph only
    val subEdges = affected.filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as("a_id"), col("cluster_id").as("b_id"))
      .union(np)
    // one size gate, in dupClusters: a micro-batch-sized subgraph is
    // contracted in one task, a larger one by the distributed rounds
    val relabeled = dupClusters(subEdges, maxIter)
    val untouched = p.join(touchedClusters, Seq("cluster_id"), "left_anti")
      .select(col("doc_id"), col("cluster_id"))
    untouched.union(relabeled)
  }

  /** Edge ceiling of [[dupClusters]]' one-task route: 2M edges hold at
    * most 4M distinct ids, whose union-find map stays within
    * `LongLongMap.memoryBound(4M)` = 192 MiB in one task; past it the
    * distributed rounds take over (the same "too big for the
    * incremental path" boundary the broadcast hints of
    * [[incrementalClusters]] declare).
    */
  private[graft] val LocalContractMaxEdges = 2000000L

  /** Exact connected components of a (small, pinned) pair frame in ONE
    * task: min-label union-find with path compression over a primitive
    * [[LongLongMap]]. Bit-identical output contract to [[dupClusters]]:
    * (doc_id, cluster_id = smallest doc_id in the component) for every
    * doc appearing in at least one pair — ids appearing only in
    * self-pairs label themselves. Ids must be non-null longs.
    *
    * Memory: the map is the task's only state (input rows stream in,
    * output rows stream out); n edges hold at most 2n ids, so at
    * [[LocalContractMaxEdges]] the task holds at most
    * `LongLongMap.memoryBound(2 * LocalContractMaxEdges)` bytes (192 MiB).
    */
  private[graft] def localClusters(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cluster_id",
        org.apache.spark.sql.types.LongType, nullable = false)))
    pairs.toDF("a_id", "b_id").coalesce(1).mapPartitions { it =>
      val parent = new LongLongMap
      def add(x: Long): Unit =
        if (!parent.contains(x)) parent(x) = x
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) {
          val n = parent(c)
          parent(c) = r
          c = n
        }
        r
      }
      it.foreach { row =>
        val a = row.getLong(0)
        val b = row.getLong(1)
        add(a); add(b)
        if (a != b) {
          val ra = find(a)
          val rb = find(b)
          // union toward the smaller root: roots stay component minima
          if (ra < rb) parent(rb) = ra
          else if (rb < ra) parent(ra) = rb
        }
      }
      // find only rewrites values of present keys: the key scan is safe
      parent.keysIterator.map(k => Row(k, find(k)))
    }(Encoders.row(outSchema))
  }

  /** 32-bit SimHash over a token array (token multiplicity counts, as in
    * the original Charikar construction).
    */
  def simhash32(ws: Column): Column = {
    val hs = transform(ws, w => Hashing.hash32(w))
    aggregate(
      sequence(lit(0L), lit(31L)),
      lit(0L),
      (acc, b) => acc + when(
        aggregate(hs, lit(0L),
          (a, h) => a + (call_function("shiftright", h, b).bitwiseAND(lit(1L)) * 2 - 1)) > 0,
        call_function("shiftleft", lit(1L), b)).otherwise(lit(0L)))
  }

  /** Hamming distance between two simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidate pairs via a Hamming multi-index: the
    * 32-bit digest is split into 4 disjoint 8-bit bands and docs sharing
    * any band value become candidates (then scored with the exact
    * Hamming distance). This replaces the O(n²) `a_id < b_id` cross join:
    * only (id, band) pairs shuffle and the join is an equi-join on the
    * band key — the same shape as MinHash-LSH banding, so it survives a
    * 100× corpus.
    *
    * Recall: by pigeonhole, any pair within Hamming distance 3 shares at
    * least one of the 4 bands, so the index is EXACT for d ≤ 3 and a
    * high-recall heuristic above that (the standard multi-index
    * trade-off; more/finer bands buy higher guaranteed d at more
    * candidates).
    *
    * Input: (idCol, shCol) frame, one simhash per id. Output: distinct
    * (a_id, b_id, hamming) with a_id < b_id.
    */
  def simhashBandPairs(sh: DataFrame, idCol: String = "doc_id",
      shCol: String = "sh", nBands: Int = 4): DataFrame = {
    val bandBits = 32 / nBands
    val mask = (1L << bandBits) - 1
    val bands = sh.select(col(idCol), col(shCol),
      posexplode(array((0 until nBands).map(j =>
        shiftright(col(shCol), j * bandBits).bitwiseAND(lit(mask))): _*)))
      .toDF(idCol, shCol, "bi", "bv")
    // merge hint: same ReuseExchange rationale as lshCandidatePairs
    bands.as("a").join(bands.as("b").hint("merge"),
        col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"),
        hamming(col(s"a.$shCol"), col(s"b.$shCol")).cast("long").as("hamming"))
      .distinct()
  }

  /** Guaranteed-recall edit-distance self-join (the Ed-Join q-gram
    * prefix-filter family). Returns every distinct (a_id, b_id, dist)
    * with a_id < b_id and levenshtein ≤ dMax — no pair is missed.
    *
    * Why the gate is exact: one edit op perturbs at most q elements of a
    * string's distinct q-gram set, so ed(a,b) ≤ d implies
    * |A∩B| ≥ |A| − q·d and ≥ |B| − q·d; by the prefix-filter theorem any
    * such pair collides on one of its (q·d + 1) smallest grams under a
    * global total order. We order grams rarest-first (corpus document
    * frequency, then gram) — the classic candidate-minimizing order.
    * The overlap bound is vacuous when both gram sets have ≤ q·d
    * elements, which only happens for strings shorter than
    * q·(d+1) + d chars (longer strings share a ≥ q-char untouched chunk
    * by pigeonhole); those short strings are routed through a separate
    * length-blocked pairing so recall stays total for arbitrary input.
    *
    * Scale shapes: the gram→df map is alphabet-bounded (≤ |Σ|^q rows no
    * matter the corpus size), so its broadcast never grows; prefix
    * extraction shuffles (id, gram, df) once by id; candidates come from
    * an equi-join on the gram key — only (gram, id) pairs shuffle, no
    * all-pairs stage anywhere. Verification uses Spark's banded
    * 3-arg levenshtein (O(d·n) per pair, not O(n²)).
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      q: Int = 2, dMax: Int = 3): DataFrame = {
    val strs = df.select(col(idCol).as("id"), col(strCol).as("p"))
      .withColumn("len", length(col("p")))
    val cand = editDistanceCandidates(strs, q, dMax)
    cand.join(strs.select(col("id").as("a_id"), col("p").as("a_p")), "a_id")
      .join(strs.select(col("id").as("b_id"), col("p").as("b_p")), "b_id")
      .withColumn("dist",
        levenshtein(col("a_p"), col("b_p"), dMax).cast("long"))
      .filter(col("dist") >= 0) // banded levenshtein: −1 means > dMax
      .select(col("a_id"), col("b_id"), col("dist"))
  }

  /** The Ed-Join candidate stage alone ((a_id, b_id) before the banded
    * verify).
    */
  private def editDistanceCandidates(strs: DataFrame, q: Int,
      dMax: Int): DataFrame = {
    val prefLen = q * dMax + 1
    val lMin = q * (dMax + 1) + dMax // below this the q-gram bound is vacuous
    val long = strs.filter(col("len") >= lMin)
    // each distinct gram VALUE carries its occurrence-position list
    // (r16, the Ed-Join location-based filter): an edit moves a
    // preserved gram occurrence by at most dMax positions, so a
    // candidate pair must share a prefix gram with SOME occurrence
    // pair at |Δpos| ≤ dMax. Recall stays total: ≤ q·d occurrences
    // per side are destroyed by d edits, so ≤ q·d distinct values per
    // side are fully-unpreserved, and the σ-smallest gram value with
    // a preserved (hence position-close) occurrence pair sits inside
    // BOTH (q·d+1)-value prefixes — the σ-minimality is symmetric
    // because a preserved pair contributes the same value to both
    // sides. The position lists are built map-side (O(len²/str) on
    // ≤24-char strings), the join gains an `exists` over two ≤few-
    // element lists, and hot-gram candidate mass drops by the
    // position-window fraction (measured at sf0.1: 5.17M → 1.69M
    // candidates, q105 6.6 → 4.9 s; q119's ±1 window cuts deeper).
    val gramsP = long.select(col("id"), col("len"),
      explode(transform(
        array_distinct(transform(sequence(lit(1), col("len") - (q - 1)),
          i => col("p").substr(i, lit(q)))),
        g => struct(g.as("g"),
          filter(sequence(lit(1), col("len") - (q - 1)),
            i => col("p").substr(i, lit(q)) === g).as("ps")))).as("gp"))
      .select(col("id"), col("len"), col("gp.g").as("g"),
        col("gp.ps").cast("array<long>").as("ps"))
    val gramDf = gramsP.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val pref = gramsP.join(broadcast(gramDf), "g")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("g"))))
      .filter(col("rn") <= prefLen)
      .select(col("g"), col("id"), col("len"), col("ps"))
      .repartition(col("g")) // shared exchange for the self-join
    // merge-hint pins the self-join to sort-merge: a broadcast of either
    // side breaks ReuseExchange and computes the prefix chain (grams +
    // window) TWICE — same rationale as lshCandidatePairs.
    // codegen'd two-pointer over the ascending lists — the HOF exists
    // form ran interpreted lambdas once per gram-equal pair and ate
    // the candidate-mass win whole (measured)
    val posClose = graft.functions.PosClose(strs.sparkSession,
      col("a.ps"), col("b.ps"), lit(dMax.toLong))
    val gated = pref.as("a").join(pref.as("b").hint("merge"),
        col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
          abs(col("a.len") - col("b.len")) <= dMax && posClose)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
    // short strings: the prefix theorem needs |A∩B| ≥ |B| − q·d to bite
    // on at least one side, so pairs whose LONGER member is short bypass
    // the gate. Block them by length (|len_a − len_b| ≤ d is necessary),
    // and give the join an EQUI-key: the b side explodes to its 2d+1
    // candidate length buckets and matches a's exact length — without
    // the key Spark must plan a nested-loop join that is quadratic in
    // the short population (for q=2,d=3 "short" is len<11, common in
    // real corpora). With it, pairs shuffle hash-partitioned by length;
    // the residual skew unit is one length class, linear rows per
    // reducer, not all-pairs.
    val short = strs.filter(col("len") < lMin)
    val shortB = strs.filter(col("len") < lMin + dMax)
      .select(col("id").as("b_id"),
        explode(sequence(col("len") - dMax, col("len") + dMax)).as("lb"))
    val shortCand = short.select(col("id").as("a_id"), col("len").as("a_len"))
      .join(shortB, col("a_len") === col("lb") && col("a_id") =!= col("b_id"))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
    gated.union(shortCand).distinct()
  }

  /** Guaranteed-recall set-similarity self-join at Jaccard threshold
    * tNum/tDen over the distinct 3-word shingle sets (the
    * AllPairs/PPJoin prefix-filter family). Returns every (a_id, b_id,
    * jacc) with a_id < b_id and J ≥ t — unlike the MinHash-LSH tier
    * ([[lshCandidatePairs]]) no true pair can be missed, which is why
    * the brute-force oracle can hash-match it.
    *
    * Why the gate is exact: J(A,B) ≥ t implies |A∩B| ≥ t·max(|A|,|B|),
    * so overlap ≥ ⌈t·|X|⌉ for each side; by the prefix-filter lemma the
    * pair must then collide within the first |X| − ⌈t·|X|⌉ + 1 elements
    * of each set under any shared total order. We order elements
    * rarest-first by corpus document frequency (ties by value) — the
    * candidate-minimizing order — and add the size filter
    * (den·|B| ≥ num·|A| both ways), also implied by J ≥ t. Threshold
    * math is integer-rational throughout (⌈num·sz/den⌉ via ceil-div,
    * cross-multiplied comparisons): no floating-point ceil can
    * under-round the prefix length and silently break the guarantee.
    *
    * Scale shapes: unlike [[editDistancePairs]]'s alphabet-bounded
    * gram space, the shingle space GROWS with the corpus — the df map
    * must stay a keyed shuffle join, never a broadcast. Prefix
    * extraction shuffles (id, element, df) once by id; candidates come
    * from an element equi-join carrying only (element, id, sz); exact
    * Jaccard runs on candidates alone, reading the one shared
    * [[shingleFrame]] exchange (same ReuseExchange shape as q32).
    */
  def setSimilarityPairs(df: DataFrame, idCol: String, textCol: String,
      tNum: Int = 7, tDen: Int = 10): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, "threshold must be in (0, 1]")
    val sized = setSimilaritySized(df, idCol, textCol)
    val cand = setSimilarityCandidates(sized, tNum, tDen)
    // one-pass imperative |A∩B|/|A∪B| (graft_inter_union) — the built-in
    // array_intersect + array_union pair walks both arrays twice and
    // builds four hash tables per candidate; same distinct-count
    // semantics, exact integers (r16: q106 verify 9.4 → 5.9 s solo)
    val iu = graft.functions.InterUnion(df.sparkSession,
      col("a_sh"), col("b_sh"))
    cand.join(sized.select(col("id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(sized.select(col("id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("iu", iu)
      // cross-multiplied: engine-exact
      .filter(col("iu.inter") * tDen >= col("iu.uni") * tNum)
      .select(col("a_id"), col("b_id"),
        (col("iu.inter").cast("double") / col("iu.uni")).as("jacc"))
  }

  /** The shared (id, shingle-set, size) frame feeding every PPJoin
    * consumer. One shared exchange feeds all four consumers (prefix
    * elements, df counts, both verify joins). The isNotNull filter is
    * explicit so every branch pushes the SAME predicates below the
    * repartition — without it the join branches infer isnotnull(id)
    * and the df branch doesn't, the exchange subtrees stop being
    * identical, and ReuseExchange silently degrades to three full
    * scan+shingle passes over the corpus (observed, not hypothetical).
    * (the sh-isNotNull filter below mirrors the constraint the explode
    * branch infers on its own, for the same reason)
    */
  private def setSimilaritySized(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"), graft.functions.GraftFunctions
        .shingles(df.sparkSession, col(textCol)).as("sh"))
      .filter(col("sh").isNotNull)
      .repartition(col("id"))
      .select(col("id"), col("sh"), size(col("sh")).as("sz"))
      .filter(col("sz") > 0)

  /** The PPJoin candidate stage alone ((a_id, b_id) before the exact
    * Jaccard verify).
    */
  private def setSimilarityCandidates(sized: DataFrame, tNum: Int,
      tDen: Int): DataFrame = {
    // Long element keys (r17, VERDICT-r16 item 5): every exchange and
    // sort below runs on k = xxhash64(e) — 8 fixed bytes — instead of
    // the ~20-byte shingle string. Recall stays total, unlike the
    // rejected hash-the-elements form: (a) the candidate JOIN keys on
    // k, and equal elements always have equal k, so no true pair can
    // be lost — a (astronomically rare) collision only ADDS a
    // candidate, which the exact verify discards; (b) the prefix
    // order stays the ORIGINAL (df, e) — one corpus-wide total order
    // on elements, exactly the prefix-filter lemma's requirement —
    // and df(k) = df(e) whenever k is collision-free, so the selected
    // prefixes (hence the candidate set) are bit-identical to the
    // string-keyed form on any collision-free corpus (probed: same
    // 309,803 candidates at sf0.1). The df map shrinks to (k, df) and
    // the self-join input to (k, id, sz): no string reaches the
    // candidate self-join's exchange or its sort.
    val elems = sized.select(col("id"), col("sz"), explode(col("sh")).as("e"))
      .withColumn("k", xxhash64(col("e")))
    val dfreq = elems.groupBy(col("k")).agg(count(lit(1)).as("df"))
    // prefix length p = sz − ⌈t·sz⌉ + 1; ceil-div in integers (floor of
    // the double division is exact well past any real shingle count)
    val minOverlap = floor((col("sz").cast("long") * tNum + (tDen - 1)) / tDen)
    val pref = elems.join(dfreq, "k")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("e"))))
      .filter(col("rn") <= col("sz") - minOverlap + 1)
      .select(col("k"), col("id"), col("sz"))
      .repartition(col("k")) // shared exchange for the self-join
    pref.as("a").join(pref.as("b").hint("merge"),
        col("a.k") === col("b.k") && col("a.id") < col("b.id") &&
          col("b.sz") * tDen >= col("a.sz") * tNum &&
          col("a.sz") * tDen >= col("b.sz") * tNum)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
  }

  /** Guaranteed-recall Jaccard set-similarity join ACROSS two relations
    * (R-S AllPairs/PPJoin) — the contamination shape: an eval/benchmark
    * split probed against a train corpus, every cross pair with
    * J ≥ tNum/tDen returned.
    *
    * Recall lemma, cross-relation form: order all elements by one
    * SHARED total order (df asc over R ∪ S, ties by element). Each set
    * keeps its first sz − ⌈t·sz⌉ + 1 elements as prefix. If J(r, s) ≥ t
    * and the two prefixes were disjoint, every common element would lie
    * past one of the prefix ends, so the overlap would be at most
    * min(⌈t·|r|⌉, ⌈t·|s|⌉) − 1 < ⌈t·max(|r|, |s|)⌉ ≤ |r ∩ s| — a
    * contradiction. The proof never uses that the sets come from the
    * same relation, only that both prefixes follow the same order, so
    * the df map MUST be computed over the union (an eval-only or
    * train-only order breaks the guarantee).
    *
    * Scale shapes (same as [[setSimilarityPairs]], asymmetric): the df
    * map stays a keyed shuffle join (element space grows with the
    * corpus — never broadcast); candidates are an (element) equi-join
    * of the two prefix frames carrying only (element, id, sz), with the
    * size-ratio window t·|s| ≤ |r| ≤ |s|/t applied in cross-multiplied
    * integer form; exact Jaccard runs on candidates alone. No a < b
    * dedup — the relations are distinct, so every candidate is already
    * one directed (probe, corpus) pair. A probe split much smaller than
    * the corpus (the usual contamination case) makes the probe prefix
    * frame broadcast-able; Spark's planner picks that up from size
    * stats, and AQE re-plans it at runtime when the estimate is off.
    */
  def setSimilarityPairsRS(probe: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      tNum: Int = 7, tDen: Int = 10): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen, "threshold must be in (0, 1]")
    val rSized = setSimilaritySized(probe, idCol, textCol)
    val sSized = setSimilaritySized(corpus, idCol, textCol)
    // long element keys, same argument as [[setSimilarityCandidates]]
    // (r17): the df map and the candidate equi-join run on
    // k = xxhash64(e); the shared (df, e) prefix order over R ∪ S is
    // unchanged, so the prefixes — and hence the candidate set — are
    // identical on any collision-free corpus, and a collision can
    // only add a candidate the exact verify discards
    val rElems = rSized.select(col("id"), col("sz"), explode(col("sh")).as("e"))
      .withColumn("k", xxhash64(col("e")))
    val sElems = sSized.select(col("id"), col("sz"), explode(col("sh")).as("e"))
      .withColumn("k", xxhash64(col("e")))
    val dfreq = rElems.select(col("k")).union(sElems.select(col("k")))
      .groupBy(col("k")).agg(count(lit(1)).as("df"))
    def prefixOf(elems: DataFrame): DataFrame = {
      val minOverlap = floor((col("sz").cast("long") * tNum + (tDen - 1)) / tDen)
      elems.join(dfreq, "k")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("id")).orderBy(col("df"), col("e"))))
        .filter(col("rn") <= col("sz") - minOverlap + 1)
        .select(col("k"), col("id"), col("sz"))
    }
    val cand = prefixOf(rElems).as("a")
      .join(prefixOf(sElems).as("b"),
        col("a.k") === col("b.k") &&
          col("b.sz") * tDen >= col("a.sz") * tNum &&
          col("a.sz") * tDen >= col("b.sz") * tNum)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
    // one-pass exact verify — same rationale as [[setSimilarityPairs]]
    val iu = graft.functions.InterUnion(probe.sparkSession,
      col("a_sh"), col("b_sh"))
    cand.join(rSized.select(col("id").as("a_id"), col("sh").as("a_sh")), "a_id")
      .join(sSized.select(col("id").as("b_id"), col("sh").as("b_sh")), "b_id")
      .withColumn("iu", iu)
      .filter(col("iu.inter") * tDen >= col("iu.uni") * tNum)
      .select(col("a_id"), col("b_id"),
        (col("iu.inter").cast("double") / col("iu.uni")).as("jacc"))
  }

  /** Jaccard similarity of two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Convenience: doc frame → (id, shingle-set) frame (HOF reference
    * implementation; hot paths use [[shingleFrame]]'s imperative
    * expression — TextSpec asserts the two are bit-identical).
    */
  def withShingles(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame =
    df.select(col(idCol), TextFunctions.shingleSet(col(textCol), k).as("sh"))
}
