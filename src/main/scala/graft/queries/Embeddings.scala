package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Common._
import graft.ops.Hashing.hash32
import graft.similarity.Vectors

/** Similarity-search query surface over `embeddings` (64-dim float
  * vectors): brute-force cosine top-k (exact baseline), deterministic
  * random-hyperplane LSH ANN (the scale path), and per-label vector
  * statistics.
  */
object Embeddings {

  /** DuckDB twin of Vectors.dot: sequential left fold over index range. */
  private def sqlDot(a: String, b: String) =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(range(1, 65),
          i -> CAST(($a)[i] AS DOUBLE) * CAST(($b)[i] AS DOUBLE))),
        (x, y) -> x + y)"""

  /** DuckDB twin of Vectors.planeDot for plane variable p (0-based dims). */
  private def sqlPlaneDot(emb: String) =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(range(0, 64),
          d -> CAST(($emb)[CAST(d+1 AS INT)] AS DOUBLE) *
            (CAST(((p*64 + d) * 1103515245 + 12345) % 2147483648 AS DOUBLE)
              / 2147483648.0 - 0.5))),
        (x, y) -> x + y)"""

  private val sqlBucket =
    s"""CAST(list_sum(list_transform(range(0, 8), p ->
        CASE WHEN ${sqlPlaneDot("embedding")} > 0
        THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END)) AS BIGINT)"""

  /** DuckDB twin of Vectors.sqDist. */
  private def sqlSqDist(a: String, b: String) =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(range(1, 65),
          i -> (CAST(($a)[i] AS DOUBLE) - CAST(($b)[i] AS DOUBLE)) *
               (CAST(($a)[i] AS DOUBLE) - CAST(($b)[i] AS DOUBLE)))),
        (x, y) -> x + y)"""

  private val sqlNormed =
    s"""v AS (SELECT vec_id, embedding,
        sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings)"""

  /** Seed centroids (vec_id < 8) folded into ONE sorted array row — a
    * bounded broadcast (k × dim doubles), the same codebook shape as the
    * q57 IVF probe. Keeps nearest-seed assignment a zero-shuffle map.
    */
  private def seedArray(v: org.apache.spark.sql.DataFrame) =
    v.filter(col("vec_id") < 8)
      .agg(sort_array(collect_list(struct(col("vec_id").as("sid"),
        col("e").as("se")))).as("seeds"))

  /** In-row argmin over the seed array via the codegen'd
    * `graft_nearest_seed` (strict `<` over the sorted
    * array keeps the earlier seed on distance ties — identical to the
    * oracle's ORDER BY dist, seed_id tie-break). The interpreted HOF
    * equivalent lives on in [[nearestSeedHof]] for the equivalence spec.
    */
  private def nearestSeed(s: org.apache.spark.sql.SparkSession,
      e: Column, seeds: Column): Column =
    graft.functions.NearestSeed(s, e, seeds)

  /** The HOF composition of the same argmin — spec referee only. */
  private[graft] def nearestSeedHof(e: Column, seeds: Column): Column =
    aggregate(seeds,
      struct(lit(Double.MaxValue).as("dist"), lit(-1L).as("sid")),
      (acc, sd) => {
        val dct = Vectors.sqDist(e, sd.getField("se"))
        when(dct < acc.getField("dist"),
          struct(dct.as("dist"), sd.getField("sid").as("sid")))
          .otherwise(acc)
      }).getField("sid")

  // ---- T191 graph-ANN constants (shared by the query + the oracle).
  // Calibrated on all three SFs (BASELINE.md r15): the Hamming≤1 seed
  // graph with beam 8 / 3 hops read recall@5 0.44; Hamming≤2 probes +
  // 2 NN-descent rounds + beam 24 / 3 hops read 0.99/—/0.83
  // (4 hops: 0.99/0.97/0.84 for +4 stages — not worth the wall).
  private val GraphM = 16 // out-neighbors kept per node
  private val GraphBeam = 24 // beam width during search
  private val GraphHops = 3 // fixed expand-score-prune rounds
  private val GraphEntries = 4 // fixed entry nodes: vec_id < 4
  private val NdRounds = 2 // NN-descent refinement rounds
  /** Seed-join occupancy cap (VERDICT-r15 item 3): each LSH bucket
    * contributes at most this many (lowest-id) members to the seed
    * join's candidate side, so per-bucket candidate mass is
    * occupancy × cap, never occupancy². Binds at sf0.1 (mean
    * occupancy ~7.8 over 256 buckets); recall re-calibrated with the
    * cap binding in BASELINE.md r16.
    */
  private val GraphSeedCap = 6
  /** XOR masks of the Hamming≤2 ball over the 8-bit bucket space. */
  private val ProbeMasks: Seq[Long] =
    0L +: (0 until 8).map(p => 1L << p) ++:
      (for (p <- 0 until 8; q <- p + 1 until 8)
        yield (1L << p) | (1L << q))

  val qs: Seq[Q] = Seq(
    Q("q36_cosine_topk",
      "exact brute-force cosine top-5 neighbors for query vectors",
      Some(s"""WITH $sqlNormed,
        p AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
            ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
          FROM v a JOIN v b ON a.vec_id < 20 AND a.vec_id <> b.vec_id)
        SELECT q_id, n_id, rn, cosine FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cosine DESC, n_id) AS rn FROM p) t
        WHERE rn <= 5 ORDER BY q_id, rn"""),
      (s, d) => {
        val v = table(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
          .withColumn("nrm", Vectors.norm(col("e")))
        val q = v.toDF("q_id", "qe", "qn").filter(col("q_id") < 20)
        val c = v.toDF("n_id", "ne", "nn")
        val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
        q.join(c, col("q_id") =!= col("n_id"))
          .select(col("q_id"), col("n_id"),
            Vectors.cosinePre(Vectors.dot(col("qe"), col("ne")),
              col("qn"), col("nn")).as("cosine"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 5)
          .select("q_id", "n_id", "rn", "cosine")
          .orderBy("q_id", "rn")
      }),

    Q("q37_ann_lsh",
      "ANN via deterministic 8-plane sign-LSH buckets, top-3 in-bucket",
      Some(s"""WITH $sqlNormed,
        vb AS (SELECT vec_id, embedding, nrm, $sqlBucket AS bucket FROM v),
        p AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id, a.bucket,
            ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
          FROM vb a JOIN vb b ON a.bucket = b.bucket
            AND a.vec_id < 20 AND a.vec_id <> b.vec_id)
        SELECT q_id, n_id, bucket, rn, cosine FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cosine DESC, n_id) AS rn FROM p) t
        WHERE rn <= 3 ORDER BY q_id, rn"""),
      (s, d) => {
        // repartition = projection barrier + shared exchange: norms and
        // buckets are computed once and reused on both join sides
        // (ReuseExchange), instead of being inlined into each side.
        val v = table(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
          .withColumn("nrm", Vectors.norm(col("e")))
          .withColumn("bucket", graft.functions.LshBucket(s, col("e")))
          .repartition(col("vec_id"))
        val q = v.toDF("q_id", "qe", "qn", "bucket").filter(col("q_id") < 20)
        val c = v.toDF("n_id", "ne", "nn", "nbucket")
        val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
        q.join(c, col("bucket") === col("nbucket") && col("q_id") =!= col("n_id"))
          .select(col("q_id"), col("n_id"), col("bucket"),
            Vectors.cosinePre(Vectors.dot(col("qe"), col("ne")),
              col("qn"), col("nn")).as("cosine"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select("q_id", "n_id", "bucket", "rn", "cosine")
          .orderBy("q_id", "rn")
      }),

    Q("q57_ann_ivf",
      "IVF-Flat ANN: coarse-quantize to nearest centroid cell, probe cell",
      Some(s"""WITH $sqlNormed,
        c AS (SELECT vec_id AS c_id, embedding AS ce FROM embeddings
              WHERE vec_id < 8),
        a AS (SELECT v.vec_id,
            min({'d': ${sqlSqDist("v.embedding", "c.ce")}, 'c': c.c_id}) AS m
          FROM v, c GROUP BY v.vec_id),
        vc AS (SELECT v.vec_id, v.embedding, v.nrm, a.m.c AS cell
          FROM v JOIN a USING (vec_id)),
        p AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id, q.cell,
            ${sqlDot("q.embedding", "n.embedding")} / (q.nrm * n.nrm) AS cosine
          FROM vc q JOIN vc n ON q.cell = n.cell
            AND q.vec_id < 20 AND q.vec_id <> n.vec_id)
        SELECT q_id, n_id, cell, rn, cosine FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cosine DESC, n_id) AS rn FROM p) t
        WHERE rn <= 3 ORDER BY q_id, rn"""),
      (s, d) => {
        // Deterministic IVF-Flat: coarse codebook = the first 8 vectors
        // (a k-means step can swap in without changing the query shape).
        // Assignment = min-struct argmin (ties → lowest centroid id),
        // identical to the oracle's min({'d',...,'c'...}).
        val v = table(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
          .withColumn("nrm", Vectors.norm(col("e")))
          .repartition(col("vec_id"))
        val cents = v.filter(col("vec_id") < 8)
          .select(col("vec_id").as("c_id"), col("e").as("ce"))
        val assign = v.crossJoin(broadcast(cents))
          .select(col("vec_id"),
            struct(Vectors.sqDist(col("e"), col("ce")).as("d"),
              col("c_id").as("c")).as("dc"))
          .groupBy(col("vec_id"))
          .agg(min(col("dc")).getField("c").as("cell"))
        val vc = v.join(assign, "vec_id")
        val q = vc.toDF("q_id", "qe", "qn", "cell").filter(col("q_id") < 20)
        val cands = vc.toDF("n_id", "ne", "nn", "ncell")
        val w = Window.partitionBy(col("q_id")).orderBy(col("cosine").desc, col("n_id"))
        q.join(cands, col("cell") === col("ncell") && col("q_id") =!= col("n_id"))
          .select(col("q_id"), col("n_id"), col("cell"),
            Vectors.cosinePre(Vectors.dot(col("qe"), col("ne")),
              col("qn"), col("nn")).as("cosine"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select("q_id", "n_id", "cell", "rn", "cosine")
          .orderBy("q_id", "rn")
      }),

    Q("q71_embedding_near_dup",
      "embedding-cosine near-dup pairs within LSH buckets (scale path)",
      Some(s"""WITH $sqlNormed,
        vb AS (SELECT vec_id, embedding, nrm, $sqlBucket AS bucket FROM v)
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
          ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
        FROM vb a JOIN vb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.2
        ORDER BY a_id, b_id"""),
      (s, d) => {
        val v = table(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
          .withColumn("nrm", Vectors.norm(col("e")))
          .withColumn("bucket", graft.functions.LshBucket(s, col("e")))
          .repartition(col("vec_id"))
        val a = v.toDF("a_id", "ae", "an", "ab")
        val b = v.toDF("b_id", "be", "bn", "bb")
        a.join(b, col("ab") === col("bb") && col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"),
            Vectors.cosinePre(Vectors.dot(col("ae"), col("be")),
              col("an"), col("bn")).as("cosine"))
          .filter(col("cosine") >= 0.2)
          .orderBy("a_id", "b_id")
      }),

    Q("q86_centroids",
      "per-label centroid vector (elementwise mean), long (label, dim) form",
      Some(s"""WITH e AS (SELECT label,
          unnest(${Vectors.latticizeSql("CAST(embedding AS DOUBLE[])")}) AS xq,
          unnest(range(len(embedding))) AS dim
        FROM embeddings)
        SELECT label, CAST(dim AS BIGINT) AS dim, COUNT(*) AS n,
          CAST(CAST(SUM(xq) AS BIGINT) AS DOUBLE) / 1000000.0 / COUNT(*) AS c
        FROM e GROUP BY label, dim ORDER BY label, dim"""),
      (s, d) => {
        // Centroids in long (label, dim) form: posexplode then one
        // grouped aggregation keyed by (label, dim) — map-side partial
        // agg, shuffle rows = labels×dims regardless of corpus size.
        // Components are quantized to a 1e-6 grid and summed as exact
        // integers: float-derived doubles are dyadic, so a direct
        // double→DECIMAL sum can land on a rounding TIE that DuckDB
        // (half-even) and Spark (HALF_UP) resolve differently — seen on
        // this very dataset (0.1983642578125 at scale 12). The
        // quantization is latScalar's floor/ceil half-away on the
        // BINARY double (round-7: round() itself is decimal-vs-binary
        // boundary-sensitive across engines), so the grid point is
        // bit-identical everywhere and integer sums are associative.
        table(s, d, "embeddings")
          .select(col("label"),
            posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
          .groupBy(col("label"), col("dim").cast("long").as("dim"))
          .agg(count(lit(1)).as("n"),
            (sum(Vectors.latScalar(col("x"), 1e6)).cast("double")
              / 1000000.0 / count(lit(1))).as("c"))
          .orderBy("label", "dim")
      }),

    Q("q38_embedding_stats",
      "per-label vector statistics (norm distribution)",
      Some(s"""WITH $sqlNormed,
        l AS (SELECT label, nrm FROM v JOIN embeddings USING (vec_id))
        SELECT label, COUNT(*) AS n,
          ${sqlDsum("nrm", 12)} AS sum_norm,
          ${sqlDsum("nrm", 12)}/COUNT(*) AS avg_norm,
          MIN(nrm) AS min_norm, MAX(nrm) AS max_norm
        FROM l GROUP BY label ORDER BY label"""),
      (s, d) => table(s, d, "embeddings")
        .select(col("label"),
          Vectors.norm(col("embedding").cast("array<double>")).as("nrm"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          dsum(col("nrm"), 12).as("sum_norm"),
          davg(col("nrm"), 12).as("avg_norm"),
          min(col("nrm")).as("min_norm"),
          max(col("nrm")).as("max_norm"))
        .orderBy("label")),

    Q("q120_kmeans_codebook",
      "k-means-trained IVF codebook: 2 Lloyd iterations from the 8 " +
        "seed vectors, centroid means through the integer-quantized " +
        "sum (deterministic in both engines); output is the trained " +
        "codebook in long (cluster, dim) form with member counts",
      Some(s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        s0 AS (SELECT vec_id AS sid, e AS se FROM v WHERE vec_id < 8),
        a1 AS (SELECT vec_id, e, sid FROM (
            SELECT v.vec_id, v.e, s.sid,
              ROW_NUMBER() OVER (PARTITION BY v.vec_id
                ORDER BY ${sqlSqDist("v.e", "s.se")}, s.sid) AS rn
            FROM v CROSS JOIN s0 s) t WHERE rn = 1),
        x1 AS (SELECT sid, unnest(${Vectors.latticizeSql("e")}) AS xq,
            unnest(range(len(e))) AS dim FROM a1),
        c1 AS (SELECT sid, dim, CAST(SUM(xq) AS BIGINT) AS s,
            COUNT(*) AS n FROM x1 GROUP BY 1, 2),
        s1 AS (SELECT sid, list(CAST(s AS DOUBLE) / 1000000.0 / n
            ORDER BY dim) AS se FROM c1 GROUP BY sid),
        a2 AS (SELECT vec_id, e, sid FROM (
            SELECT v.vec_id, v.e, s.sid,
              ROW_NUMBER() OVER (PARTITION BY v.vec_id
                ORDER BY ${sqlSqDist("v.e", "s.se")}, s.sid) AS rn
            FROM v CROSS JOIN s1 s) t WHERE rn = 1),
        x2 AS (SELECT sid, unnest(${Vectors.latticizeSql("e")}) AS xq,
            unnest(range(len(e))) AS dim FROM a2),
        c2 AS (SELECT sid, dim, CAST(SUM(xq) AS BIGINT) AS s,
            COUNT(*) AS n FROM x2 GROUP BY 1, 2)
        SELECT sid AS cluster, CAST(dim AS BIGINT) AS dim,
          CAST(n AS BIGINT) AS n,
          CAST(s AS DOUBLE) / 1000000.0 / n AS c
        FROM c2 ORDER BY cluster, dim"""),
      (s, d) => {
        // Distributed Lloyd: each iteration is (a) the zero-shuffle
        // in-row argmin against the broadcast codebook — the q114/q115
        // assignment shape — and (b) one map-side-combinable
        // aggregation keyed by (cluster, dim) whose shuffle is k×dims
        // rows REGARDLESS of corpus size. Component means go through
        // the 1e-6 integer grid (the q86 trick): integer sums are
        // associative, so Spark's 32-way partials and DuckDB's serial
        // scan agree bit-for-bit, and the derived double centroids —
        // inputs to the next iteration's distances — are identical in
        // both engines. The codebook frame (k×dim doubles) is the only
        // thing that crosses iterations; vectors never leave their
        // scan tasks.
        val v = table(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        def assign(seeds: org.apache.spark.sql.DataFrame) =
          v.crossJoin(broadcast(seeds))
            .select(col("vec_id"), col("e"),
              nearestSeed(s, col("e"), col("seeds")).as("cluster"))
        def centroids(asg: org.apache.spark.sql.DataFrame) =
          asg.select(col("cluster"),
              posexplode(col("e")).as(Seq("dim", "x")))
            .groupBy(col("cluster"), col("dim").cast("long").as("dim"))
            .agg(sum(Vectors.latScalar(col("x"), 1e6)).as("s"),
              count(lit(1)).as("n"))
        def codebook(cent: org.apache.spark.sql.DataFrame) =
          cent.select(col("cluster"), col("dim"),
              (col("s").cast("double") / 1000000.0 / col("n")).as("c"))
            .groupBy(col("cluster"))
            .agg(sort_array(collect_list(struct(col("dim"), col("c"))))
              .as("dc"))
            .select(struct(col("cluster").as("sid"),
              expr("transform(dc, p -> p.c)").as("se")).as("cs"))
            .agg(sort_array(collect_list(col("cs"))).as("seeds"))
        val c1 = centroids(assign(seedArray(v)))
        val c2 = centroids(assign(codebook(c1)))
        c2.select(col("cluster"), col("dim"), col("n"),
            (col("s").cast("double") / 1000000.0 / col("n")).as("c"))
          .orderBy("cluster", "dim")
      }),

    Q("q121_pq_adc_topk",
      "product quantization: 8 subspaces x 8 codes (sub-codebook = " +
        "subvectors of the seed vectors), vectors encoded to 8 codes, " +
        "queries retrieve top-5 by asymmetric-distance (ADC) lookup — " +
        "per-subspace distances on the 1e-12 integer grid so the " +
        "8-term sums are engine-exact",
      Some(s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
        sp AS (SELECT unnest(range(8)) AS s),
        sub AS (SELECT vec_id, s,
            e[CAST(s*8+1 AS BIGINT):CAST(s*8+8 AS BIGINT)] AS sub
          FROM v CROSS JOIN sp),
        cb AS (SELECT vec_id AS c, s, sub AS csub FROM sub WHERE vec_id < 8),
        dist AS (SELECT a.vec_id, a.s, b.c,
${Vectors.latScalarSql("""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
              list_transform(range(1, 9),
                i -> (a.sub[i] - b.csub[i]) * (a.sub[i] - b.csub[i]))),
              (x, y) -> x + y)""", "1000000000000.0")} AS dq
          FROM sub a JOIN cb b ON a.s = b.s),
        codes AS (SELECT vec_id, s, c FROM (SELECT *,
            ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dq, c) AS rn
          FROM dist) t WHERE rn = 1),
        qd AS (SELECT vec_id AS q_id, s, c, dq FROM dist WHERE vec_id < 20),
        adc AS (SELECT q.q_id, x.vec_id AS n_id,
            CAST(CAST(SUM(dq) AS BIGINT) AS DOUBLE) / 1000000000000.0 AS adc
          FROM codes x JOIN qd q ON x.s = q.s AND x.c = q.c
          WHERE q.q_id <> x.vec_id GROUP BY 1, 2)
        SELECT q_id, n_id, rn, adc FROM (SELECT *,
            CAST(ROW_NUMBER() OVER (PARTITION BY q_id
              ORDER BY adc, n_id) AS BIGINT) AS rn FROM adc) z
        WHERE rn <= 5 ORDER BY q_id, rn"""),
      (s, d) => {
        // PQ completes the quantized-retrieval family (q97/q103 = int8
        // scalar): memory per vector drops from 64 floats to 8 codes,
        // and query-time distances are table LOOKUPS — the query's 64
        // exact sub-distances to the codebook (a bounded 8x8 table per
        // query) are joined to the corpus codes by (subspace, code), so
        // the corpus side never touches floats at all. At scale the
        // (s, c)-keyed join shuffles only (id, s, c) triples; the
        // distance grid rides the 1e-12 integer lattice (round() ties
        // break identically in both engines, unlike double->DECIMAL)
        // so the 8-term ADC sums are associative and engine-exact.
        val v = table(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        val sub = v.select(col("vec_id"),
            posexplode(transform(sequence(lit(0), lit(7)),
              sp => slice(col("e"), (sp * 8 + 1).cast("int"), lit(8)))))
          .toDF("vec_id", "s", "sub")
        val cb = sub.filter(col("vec_id") < 8)
          .toDF("c", "s", "csub")
        val dist = sub.join(broadcast(cb), "s")
          .select(col("vec_id"), col("s"), col("c"),
            Vectors.latScalar(
              Vectors.sqDist(col("sub"), col("csub")), 1e12).as("dq"))
        val codes = dist
          .groupBy(col("vec_id"), col("s"))
          .agg(min(struct(col("dq"), col("c"))).as("m"))
          .select(col("vec_id").as("n_id"), col("s"), col("m.c").as("c"))
        val qd = dist.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("s"), col("c"), col("dq"))
        val w = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("n_id"))
        codes.join(qd, Seq("s", "c"))
          .filter(col("q_id") =!= col("n_id"))
          .groupBy(col("q_id"), col("n_id"))
          .agg((sum(col("dq")).cast("double") / 1e12).as("adc"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 5)
          .select("q_id", "n_id", "rn", "adc")
          .orderBy("q_id", "rn")
      }),

    Q("q114_cluster_balanced_sample",
      "diversity sampling: nearest-seed-centroid assignment, then a " +
        "deterministic k-per-cluster sample through the TopK heap " +
        "operator — the cluster-balanced subsampling step of " +
        "curation pipelines (sample the embedding space evenly, not " +
        "the raw source mix)",
      Some(s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
        seeds AS (SELECT vec_id AS seed_id, embedding AS se FROM v
          WHERE vec_id < 8),
        a AS (SELECT v.vec_id, s.seed_id,
            ${sqlSqDist("v.embedding", "s.se")} AS dist
          FROM v CROSS JOIN seeds s),
        asg AS (SELECT vec_id, seed_id AS cluster FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY dist, seed_id) AS arn FROM a) t
          WHERE arn = 1),
        r AS (SELECT cluster, vec_id, ROW_NUMBER() OVER (
            PARTITION BY cluster ORDER BY
              ${Common.sqlHash32("'v:' || CAST(vec_id AS VARCHAR)")},
              vec_id) AS rn
          FROM asg)
        SELECT cluster, vec_id, rn FROM r WHERE rn <= 10
        ORDER BY cluster, rn"""),
      (s, d) => {
        // Assignment is a ZERO-SHUFFLE narrow map: the seed set folds
        // into a single sorted array (1-row broadcast, the q57 codebook
        // shape) and each vector computes its argmin in-row via
        // functions.aggregate — no corpus-wide argmin aggregation, no
        // exchange carrying vectors. The per-cluster sample then goes
        // through TopKPerGroupExec ordered by a stable hash, so shuffle
        // rows ≈ clusters × k however large the corpus.
        val v = table(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        val asg = v.crossJoin(broadcast(seedArray(v)))
          .select(col("vec_id"),
            nearestSeed(s, col("e"), col("seeds")).as("cluster"),
            hash32(concat(lit("v:"), col("vec_id").cast("string"))).as("hk"))
        val top = graft.plans.TopK.perGroup(asg, Seq("cluster"),
          Seq(("hk", true), ("vec_id", true)), k = 10)
        val w = Window.partitionBy(col("cluster"))
          .orderBy(col("hk"), col("vec_id"))
        top.withColumn("rn", row_number().over(w).cast("long"))
          .select("cluster", "vec_id", "rn")
          .orderBy("cluster", "rn")
      }),

    Q("q115_semdedup",
      "semantic dedup (SemDeDup): nearest-seed cluster assignment, " +
        "within-cluster cosine > 0.3 prunes to the smallest-id keeper; " +
        "survivors listed with their cluster",
      Some(s"""WITH $sqlNormed,
        seeds AS (SELECT vec_id AS seed_id, embedding AS se FROM v
          WHERE vec_id < 8),
        a AS (SELECT v.vec_id, s.seed_id,
            ${sqlSqDist("v.embedding", "s.se")} AS dist
          FROM v CROSS JOIN seeds s),
        asg AS (SELECT vec_id, seed_id AS cluster FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY dist, seed_id) AS arn FROM a) t
          WHERE arn = 1)
        SELECT g.cluster, g.vec_id FROM asg g
        WHERE NOT EXISTS (
          SELECT 1 FROM asg o
            JOIN v a ON a.vec_id = g.vec_id
            JOIN v b ON b.vec_id = o.vec_id
          WHERE o.cluster = g.cluster AND o.vec_id < g.vec_id
            AND ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
              > 0.3)
        ORDER BY cluster, vec_id"""),
      (s, d) => {
        // The SemDeDup shape: candidate pairs are gated by the CLUSTER
        // equi-join, never a corpus cross join — pair work is
        // sum(cluster²) and cluster size is controlled by k (at real
        // scale k grows with the corpus so clusters stay bounded).
        // Assignment is the same zero-shuffle in-row argmin against the
        // broadcast seed array as q114; the prune is one left_anti
        // self-join on the cluster key with (smaller-id, cosine>τ) as
        // the residual predicate.
        val v = table(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        val asg = v.crossJoin(broadcast(seedArray(v)))
          .select(col("vec_id"), col("e"), Vectors.norm(col("e")).as("nrm"),
            nearestSeed(s, col("e"), col("seeds")).as("cluster"))
        val dup = asg.toDF("b_id", "be", "bn", "b_cluster")
        asg.join(dup,
            col("cluster") === col("b_cluster") && col("b_id") < col("vec_id") &&
              Vectors.cosinePre(Vectors.dot(col("e"), col("be")),
                col("nrm"), col("bn")) > 0.3,
            "left_anti")
          .select(col("cluster"), col("vec_id"))
          .orderBy("cluster", "vec_id")
      }),

    Q("q142_gram_matrix",
      "distributed Gram matrix (the covariance / PCA-whitening " +
        "pre-step): one-pass TypedImperativeAggregate holding the " +
        "full dims(dims+1)/2 upper triangle as fixed-size state — ONE " +
        "~16 KB state row per map partition shuffles at ANY corpus " +
        "size, the k-means flat-shuffle story taken to zero group " +
        "keys. Round-7 structural determinism fix: elements quantize " +
        "ONCE onto the 1e-6 lattice via floor/ceil on the binary " +
        "double (exact IEEE ops, identical in both engines — never " +
        "round(), which is decimal-vs-binary boundary-sensitive), and " +
        "every product after that is exact Long arithmetic, so the " +
        "2 080 sums are associative and cross-engine bit-exact; the " +
        "emitted g is an exact long→double cast + division, both " +
        "correctly-rounded IEEE ops",
      Some(s"""WITH v AS (SELECT ${Vectors.latticizeSql(
            "CAST(embedding AS DOUBLE[])")} AS el FROM embeddings),
          p AS (SELECT i.i AS di, j.j AS dj,
              el[CAST(i.i + 1 AS INT)] * el[CAST(j.j + 1 AS INT)] AS p
            FROM v, range(0, 64) i(i), range(0, 64) j(j)
            WHERE j.j >= i.i)
        SELECT CAST(di AS INT) AS di, CAST(dj AS INT) AS dj,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(CAST(SUM(p) AS BIGINT) AS DOUBLE) / 1000000000000.0 AS g
        FROM p GROUP BY di, dj ORDER BY di, dj"""),
      (s, d) => {
        // See graft.functions.GramMatrixAgg for the scale story (one
        // fixed-size state row per partition) and the overflow-loud
        // lattice arithmetic. The single result row fans back out to
        // 2 080 (di, dj) rows only at output — a bounded explode.
        val v = table(s, d, "embeddings")
          .select(Vectors.latticize(
            col("embedding").cast("array<double>")).as("el"))
        v.agg(graft.functions.GramMatrixAgg.gram(s, col("el"), 64).as("gm"))
          .select(col("gm.n").as("n"), explode(col("gm.g")).as("x"))
          .select(col("x.di").as("di"), col("x.dj").as("dj"), col("n"),
            (col("x.s").cast("double") / 1e12).as("g"))
          .orderBy("di", "dj")
      }),

    Q("q281_ann_graph",
      "GRAPH-index ANN (T191 — the NSW/HNSW-class tier VERDICT has " +
        "listed as the one optional ANN gap since r12): a navigable " +
        "k-NN graph is BUILT from the corpus — seeded per node with " +
        s"the top-$GraphM cosine neighbors among its Hamming≤2 " +
        "multi-probe LSH neighborhood (37 buckets/node; the candidate " +
        s"side keeps each bucket's $GraphSeedCap lowest-id members — " +
        "the q108 occupancy cap adapted to ANN, so per-bucket " +
        "candidate mass is occupancy × cap, never occupancy² — " +
        "declared capped-recall semantics, never all-pairs), then " +
        "REFINED " +
        s"by $NdRounds rounds of NN-descent (Dong et al.: re-rank " +
        "each node against neighbors ∪ neighbors-of-neighbors, " +
        "symmetrized — candidate volume deg² per node per round), " +
        "then symmetrized into the search graph. Queries run GREEDY " +
        "BEAM SEARCH: the frontier seeds with " +
        s"$GraphEntries fixed entry nodes + the query's bucketmates " +
        s"+ the query node itself, then $GraphHops " +
        s"expand-score-prune rounds (beam $GraphBeam, ties " +
        "(cosine desc, id) — the q36 ordering) walk the graph, and " +
        "the top-5 non-self beam survivors are the answer. " +
        "Deterministic end-to-end: the same sequential-fold cosine " +
        "as q36 on both engines, struct-ordered pruning, fixed " +
        "round counts instead of convergence loops. EmbeddingsSpec " +
        "referees recall@5 against the q36 brute force — measured " +
        "0.99 / 0.97 / 0.84 at sf0.001/0.01/0.1 (the synthetic " +
        "near-uniform 64-dim embeddings are ANN-hostile; the " +
        "NN-descent rounds lifted sf0.1 from 0.67). Scale shape: " +
        "build = one bounded bucket join + per-node top-M, refine = " +
        "deg²-bounded candidate joins (vectors move only for " +
        "candidate pairs), graph = nodes×≤2M edges; search cost is " +
        "hop-count-bounded and independent of corpus size — the " +
        "property that makes graph ANN the production tier at 100 TB",
      Some(annGraphSql),
      (s, d) => annGraph(s, d))
  )

  /** T191 implementation: LSH-multiprobe seed + NN-descent refine +
    * beam search.
    */
  private def annGraph(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    // the vector frame feeds ~15 consumers (probe sides, per-round
    // scoring joins, query/entry/mate frames, per-hop rescoring) —
    // checkpoint (serialized) or each consumer re-reads + re-buckets
    // the corpus; a real cluster makes this a bucketed-by-id table
    val v = Common.checkpointSer(table(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", Vectors.norm(col("e")))
      .withColumn("bucket", graft.functions.LshBucket(s, col("e")))
      .repartition(col("vec_id")))
    val nside = v.toDF("n_id", "ne", "nn", "nbucket")
    val wSrc = Window.partitionBy("src").orderBy(col("cs").desc, col("dst"))
    // every knn frame is consumed TWICE by the union-with-reverse
    // symmetrization — checkpoint (serialized) or the whole scoring
    // subtree re-executes per branch (measured 2x the build wall)
    def topM(scored: org.apache.spark.sql.DataFrame) =
      Common.checkpointSer(scored
        .withColumn("rn", row_number().over(wSrc))
        .filter(col("rn") <= GraphM).select("src", "dst"))
    def scorePairs(cand: org.apache.spark.sql.DataFrame) = cand
      .join(v.select(col("vec_id").as("src"), col("e").as("se"),
        col("nrm").as("sn")), "src")
      .join(nside.select(col("n_id").as("dst"), col("ne"), col("nn")),
        "dst")
      .select(col("src"), col("dst"),
        Vectors.cosinePre(graft.functions.Dot(s, col("se"), col("ne")),
          col("sn"), col("nn")).as("cs"))
    // ---- build seed: per-node top-M among the Hamming≤2 probes.
    // Seed-join occupancy cap (VERDICT-r15 item 3 — the q108
    // maxBucket discipline adapted to ANN): uncapped, candidate pairs
    // per bucket are occupancy², and a near-dup-heavy corpus — the
    // exact thing a dedup pipeline ingests — concentrates mass in hot
    // buckets. The candidate side keeps only each bucket's
    // GraphSeedCap lowest-id members: deterministic, declared
    // capped-recall semantics (every node still probes 37 buckets as
    // a source, so seed coverage survives; NN-descent re-finds edges
    // past the cap). Truncation, not q108's whole-bucket drop —
    // dropping buckets at uniform occupancy would zero the seed graph
    // exactly where ANN still works. The bottom-k itself is a
    // two-level salted aggregate, not a per-bucket rank window: the
    // cap computation must not recreate the one-task-per-hot-bucket
    // shape it exists to kill. Its output (≤ buckets × cap ids) is a
    // broadcast.
    val cappedIds = {
      val lvl1 = v.select(col("vec_id"), col("bucket"))
        .groupBy(col("bucket"), pmod(col("vec_id"), lit(64)).as("salt"))
        .agg(slice(array_sort(collect_list(col("vec_id"))), 1,
          GraphSeedCap).as("ids"))
      lvl1.groupBy("bucket")
        .agg(slice(array_sort(flatten(collect_list(col("ids")))), 1,
          GraphSeedCap).as("ids"))
        .select(explode(col("ids")).as("cid"))
    }
    val nsideCap = nside.join(broadcast(cappedIds),
      col("n_id") === col("cid")).drop("cid")
    val probeArr = array(ProbeMasks.map(m =>
      col("bucket").bitwiseXOR(lit(m))): _*)
    // the whole build is EAGER (checkpoint-terminated) and its frames
    // are candidate-pair-sized — run it at drain-scale partitions so
    // its ~10 stages pay 8 tasks each, not 32 (the q229 sizing rule)
    val edges = Common.withDrainShuffle(s) {
      val pairs = v.select(col("vec_id"), col("e"), col("nrm"),
          explode(probeArr).as("pb"))
        .join(nsideCap, col("pb") === col("nbucket") &&
          col("vec_id") =!= col("n_id"))
        .select(col("vec_id").as("src"), col("n_id").as("dst"),
          Vectors.cosinePre(graft.functions.Dot(s, col("e"), col("ne")),
            col("nrm"), col("nn")).as("cs"))
      var knn = topM(pairs)
      // ---- NN-descent refinement: neighbors ∪ nbrs-of-nbrs
      for (r <- 1 to NdRounds) {
        val sym = knn
          .union(knn.select(col("dst").as("src"), col("src").as("dst")))
          .distinct() // knn is checkpointed; both branches read blocks
        val cand = sym.toDF("src", "mid")
          .join(sym.toDF("mid2", "dst"), col("mid") === col("mid2"))
          .select(col("src"), col("dst"))
          .filter(col("src") =!= col("dst"))
          .union(sym)
          .distinct()
        knn = topM(scorePairs(cand))
      }
      knn
        .union(knn.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
        .localCheckpoint() // small; walked GraphHops times
    }
    // ---- search (restructured r17, VERDICT-r16 item 1: the hops were
    // ~10 AQE-replanned tiny stages — pure scheduling, not data).
    // Three scheduling cuts, all scale-neutral:
    //  (a) hop-invariant frames join ONCE: qv (the query rows) is
    //      pinned, so the per-hop score() and the mates/f0 builders
    //      read 20 rows instead of re-filtering the corpus checkpoint
    //      per consumer (was 3 hops + 3 extra corpus-checkpoint scans);
    //  (b) the beam is pinned PER HOP: hop k+1 references beam_k twice
    //      (expansion join + union), so an unpinned beam doubled its
    //      subtree per hop and forced AQE to replan the whole chain —
    //      each hop now executes exactly once over ≤ queries × beam ×
    //      (M+1) rows (query-set-bounded, corpus-size-independent);
    //  (c) the hops run under drain-scale shuffle partitions (the q229
    //      state-volume sizing): every hop frame is beam-sized, so 32
    //      partitions per window/join/distinct are pure task overhead.
    val search = Common.withDrainShuffle(s) {
      val qv = v.filter(col("vec_id") < 20)
        .toDF("q_id", "qe", "qn", "qbucket")
        .localCheckpoint() // 20 rows; 3 hops + 3 builders consume it
      val entries = v.filter(col("vec_id") < GraphEntries)
        .select(col("vec_id").as("n_id"))
      val mates = qv.join(nside.select(col("n_id"), col("nbucket")),
          col("qbucket") === col("nbucket"))
        .select(col("q_id"), col("n_id"))
      val f0 = qv.select(col("q_id"), col("q_id").as("n_id"))
        .union(qv.select(col("q_id")).crossJoin(broadcast(entries)))
        .union(mates)
        .distinct()
      def score(f: org.apache.spark.sql.DataFrame) = f
        .join(nside.select(col("n_id"), col("ne"), col("nn")), "n_id")
        .join(qv.select(col("q_id"), col("qe"), col("qn")), "q_id")
        .select(col("q_id"), col("n_id"),
          Vectors.cosinePre(graft.functions.Dot(s, col("qe"), col("ne")),
            col("qn"), col("nn")).as("cs"))
      val wq = Window.partitionBy("q_id")
        .orderBy(col("cs").desc, col("n_id"))
      var beam = score(f0).withColumn("rn", row_number().over(wq))
        .filter(col("rn") <= GraphBeam).drop("rn")
        .localCheckpoint()
      for (h <- 1 to GraphHops) {
        val cand = beam.select(col("q_id"), col("n_id"))
          .join(edges, col("n_id") === col("src"))
          .select(col("q_id"), col("dst").as("n_id"))
          .union(beam.select(col("q_id"), col("n_id")))
          .distinct()
        beam = score(cand).withColumn("rn", row_number().over(wq))
          .filter(col("rn") <= GraphBeam).drop("rn")
          .localCheckpoint()
      }
      beam
    }
    val wqF = Window.partitionBy("q_id").orderBy(col("cs").desc, col("n_id"))
    search.filter(col("n_id") =!= col("q_id"))
      .withColumn("rn", row_number().over(wqF).cast("long"))
      .filter(col("rn") <= 5)
      .select(col("q_id"), col("n_id"), col("rn"), col("cs").as("cosine"))
      .orderBy("q_id", "rn")
  }

  /** DuckDB twin of [[annGraph]] — NN-descent rounds and beam hops
    * unrolled as CTEs.
    */
  private def annGraphSql: String = {
    val nd = (1 to NdRounds).map { k =>
      s"""sym$k AS (SELECT src, dst FROM knn${k - 1}
        UNION SELECT dst, src FROM knn${k - 1}),
      cand$k AS (SELECT a.src AS src, b.dst AS dst
          FROM sym$k a JOIN sym$k b ON a.dst = b.src AND a.src <> b.dst
        UNION SELECT src, dst FROM sym$k),
      sc$k AS (SELECT c.src, c.dst,
          ${sqlDot("sv.embedding", "nv.embedding")} / (sv.nrm * nv.nrm)
            AS cs
        FROM cand$k c JOIN vb sv ON c.src = sv.vec_id
          JOIN vb nv ON c.dst = nv.vec_id),
      knn$k AS (SELECT src, dst FROM (SELECT *,
          ROW_NUMBER() OVER (PARTITION BY src
            ORDER BY cs DESC, dst) AS rn FROM sc$k) t
        WHERE rn <= $GraphM)"""
    }.mkString(",\n      ")
    val hops = (1 to GraphHops).map { t =>
      s"""x$t AS (SELECT b.q_id, e.dst AS n_id
          FROM b${t - 1} b JOIN edges e ON b.n_id = e.src
        UNION SELECT q_id, n_id FROM b${t - 1}),
      s$t AS (SELECT x.q_id, x.n_id,
          ${sqlDot("q.qe", "n.embedding")} / (q.qn * n.nrm) AS cs
        FROM x$t x JOIN vb n ON x.n_id = n.vec_id
          JOIN qv q ON x.q_id = q.q_id),
      b$t AS (SELECT q_id, n_id, cs FROM (SELECT *,
          ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cs DESC, n_id) AS rn FROM s$t) t
        WHERE rn <= $GraphBeam)"""
    }.mkString(",\n      ")
    val probeList = ProbeMasks
      .map(m => s"xor(bucket, CAST($m AS BIGINT))").mkString(", ")
    s"""WITH $sqlNormed,
      vb AS (SELECT vec_id, embedding, nrm, $sqlBucket AS bucket FROM v),
      vbc AS (SELECT vec_id, embedding, nrm, bucket FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket
            ORDER BY vec_id) AS rnb FROM vb) t
        WHERE rnb <= $GraphSeedCap),
      pr AS (SELECT vec_id, embedding, nrm,
          unnest([$probeList]) AS pb
        FROM vb),
      pairs AS (SELECT a.vec_id AS src, n.vec_id AS dst,
          ${sqlDot("a.embedding", "n.embedding")} / (a.nrm * n.nrm) AS cs
        FROM pr a JOIN vbc n ON a.pb = n.bucket AND a.vec_id <> n.vec_id),
      knn0 AS (SELECT src, dst FROM (SELECT *,
          ROW_NUMBER() OVER (PARTITION BY src
            ORDER BY cs DESC, dst) AS rn FROM pairs) t
        WHERE rn <= $GraphM),
      $nd,
      edges AS (SELECT src, dst FROM knn$NdRounds
        UNION SELECT dst, src FROM knn$NdRounds),
      qv AS (SELECT vec_id AS q_id, embedding AS qe, nrm AS qn,
          bucket AS qbucket FROM vb WHERE vec_id < 20),
      f0 AS (SELECT q_id, q_id AS n_id FROM qv
        UNION SELECT q.q_id, e.vec_id AS n_id FROM qv q,
          (SELECT vec_id FROM vb WHERE vec_id < $GraphEntries) e
        UNION SELECT q.q_id, n.vec_id AS n_id FROM qv q
          JOIN vb n ON q.qbucket = n.bucket),
      s0 AS (SELECT f.q_id, f.n_id,
          ${sqlDot("q.qe", "n.embedding")} / (q.qn * n.nrm) AS cs
        FROM f0 f JOIN vb n ON f.n_id = n.vec_id
          JOIN qv q ON f.q_id = q.q_id),
      b0 AS (SELECT q_id, n_id, cs FROM (SELECT *,
          ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY cs DESC, n_id) AS rn FROM s0) t
        WHERE rn <= $GraphBeam),
      $hops
      SELECT q_id, n_id, CAST(rn AS BIGINT) AS rn, cs AS cosine
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
          ORDER BY cs DESC, n_id) AS rn
        FROM b$GraphHops WHERE n_id <> q_id) t
      WHERE rn <= 5 ORDER BY q_id, rn"""
  }
}
