package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{call_function, expr, lit, xxhash64}

/** Bounded-size Bloom membership gate for anti-corpus dedup.
  *
  * The scale problem it solves: deduping an incoming batch against a
  * 100 TB corpus with a plain anti-join shuffles the whole BATCH —
  * payload bytes included — even though almost every row is novel.
  * With the gate, `mightContain` is a narrow codegen'd filter: definite
  * negatives (the bulk) pass with ZERO shuffle, and only bloom-positive
  * suspects (true dups + the FP rate) reach the exact digest anti-join.
  * The result stays exact because positives are verified exactly;
  * Bloom filters have no false negatives.
  *
  * Wraps Spark's own runtime-filter expressions
  * (`BloomFilterAggregate` / `BloomFilterMightContain` — the pair
  * behind `InjectRuntimeFilter`) as two entries of [[GraftFunctions.specs]],
  * hashing both sides with `xxhash64` exactly as the injected runtime
  * filters do. The aggregation is map-side combinable (bitwise OR of
  * fixed-size bit arrays), so building the sketch is one narrow pass
  * over the corpus plus a bounded reduce.
  *
  * The sketch is BOUNDED — numBits/8 bytes regardless of corpus size,
  * the same artifact class as an IVF codebook — and flows to probes as
  * a SCALAR SUBQUERY over a one-row frame, exactly how
  * `InjectRuntimeFilter` passes its blooms. It is never collected to
  * the driver and never embedded as a `lit()` binary in the plan (an
  * inline literal is copied into every serialized task binary and every
  * plan string — ~1 MB at 2^23 bits, growing with numBits). Spark's
  * ReuseSubquery rule evaluates the build once per query even when the
  * probe column appears in several filters.
  */
object BloomGate {

  val AggName = "graft_bloom_agg"
  val MightContainName = "graft_bloom_might_contain"

  /** The corpus membership sketch over `c` (any comparable column;
    * hashed via xxhash64) as a LAZY one-row, one-binary-column frame.
    * Nothing executes here; the probe consumes it as a scalar subquery.
    */
  def sketch(df: DataFrame, c: Column, expectedItems: Long,
      numBits: Long): DataFrame = {
    df.select(call_function(AggName, xxhash64(c), lit(expectedItems),
      lit(numBits)).as("sketch"))
  }

  /** Membership probe column: false ⇒ definitely not in the sketched
    * corpus; true ⇒ verify exactly downstream. `tag` names the temp
    * view carrying the sketch subquery — distinct concurrent gates in
    * one session need distinct tags.
    */
  def mightContain(sketch: DataFrame, c: Column,
      tag: String = "default"): Column = {
    val view = s"graft_bloom_sketch_$tag"
    sketch.createOrReplaceTempView(view)
    // BloomFilterMightContain requires its sketch side to be foldable
    // or a scalar subquery; the subquery is the form that keeps the
    // bit array out of the task binaries.
    call_function(MightContainName,
      expr(s"(SELECT sketch FROM $view)"), xxhash64(c))
  }
}
