package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.Hashing

/** The kernels behind graft's scalar `graft_*` functions. Each
  * [[GraftFunctions.specs]] row names one of these methods, and
  * [[GraftCall]] replaces the call with Spark's `StaticInvoke`, so the
  * interpreted path calls it by reflection and the generated path emits
  * `graft.functions.ExprHelpers.<kernel>(...)` (Scala objects compile
  * to static forwarders) inside the surrounding WholeStageCodegen span.
  * A NULL argument never reaches a kernel: the call yields NULL.
  *
  * Why kernels at all: each one replaces a higher-order-function chain
  * whose `transform`/`filter`/`aggregate` lambdas run through the
  * interpreted evaluator once per ELEMENT; a kernel runs once per ROW
  * as a JIT-compiled loop. Each is bit-identical to the chain it
  * replaces on non-NULL input, and the DuckDB oracle SQL is the
  * untouched chain, so the cross-engine hash checks prove the
  * equivalences on every corpus. Where the chain answered a NULL input
  * with a value (`TextFunctions.fingerprint` gave 0, `langIdHeuristic`
  * gave "und"), `graft_fingerprint` and `graft_lang_id` give NULL.
  *
  * Parameters that have one value in use are constants here, not
  * arguments: a literal argument would rename every unaliased output
  * column, and `StaticInvoke` cannot carry an `int[]`.
  */
object ExprHelpers {

  /** Shingle width (words) of `graft_shingles`, `graft_explode_shingles`
    * and `graft_minhash_signature`.
    */
  private val ShingleK = 3

  /** Hashed-feature width of `graft_hashed_buckets`/`graft_hashed_score`
    * (every T42/DSIR consumer).
    */
  private val FeatureBuckets = 1024

  /** T120 canonicalization for `graft_canonical_url`; null = rejected
    * (non-hierarchical or malformed URLs: mailto:, data:, bad ports).
    * The frontier kernels call the [[graft.text.Urls]] /
    * [[graft.text.PublicSuffix]] / [[graft.text.Robots]] modules the
    * Scala API uses, so SQL and Scala users get the same semantics.
    */
  def canonicalUrl(u: UTF8String): UTF8String =
    graft.text.Urls.canonicalize(u.toString)
      .map(UTF8String.fromString).orNull

  /** T130 eTLD+1 for `graft_registrable_domain`; null = no registrable
    * domain (IP literal, single label, host IS a suffix).
    */
  def registrableDomain(h: UTF8String): UTF8String =
    graft.text.PublicSuffix.registrableDomain(h.toString)
      .map(UTF8String.fromString).orNull

  /** T121 verdict for `graft_robots_allowed` (RFC 9309 agent selection,
    * longest match wins). Declared trade: it parses its robots.txt per
    * ROW. The production frontier parses once per HOST into the rules
    * dimension (`Crawl.hostRobots`) and broadcast-joins the verdict;
    * this is the composable per-row form for ad-hoc SQL.
    */
  def robotsAllowed(robots: UTF8String, agent: UTF8String,
      path: UTF8String): Boolean =
    graft.text.Robots.isAllowed(
      graft.text.Robots.parse(robots.toString),
      agent.toString, path.toString)

  private val mdPool = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** First 4 md5 bytes of a string's UTF-8 bytes as unsigned 32-bit
    * (== Hashing.hash32); `digest` also resets `md`.
    */
  private def h32(md: MessageDigest, utf8: Array[Byte]): Long = {
    val d = md.digest(utf8)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }
  private def h32(md: MessageDigest, s: String): Long = h32(md, s.getBytes("UTF-8"))

  /** [[h32]] straight off a UTF8String's bytes, no String round trip
    * (`UTF8String.getBytes` IS the `encode(x, 'UTF-8')` byte sequence).
    */
  private def h32u(md: MessageDigest, s: UTF8String): Long = h32(md, s.getBytes)

  /** `graft_hash32_distinct`: `array_distinct(transform(arr, hash32))`
    * — distinct, first-occurrence order (one null kept at its first
    * slot). The chain ran one interpreted md5 lambda per element.
    */
  def hash32Distinct(arr: ArrayData): ArrayData = hash32Array(arr, 1)

  /** `graft_hash32_sorted`: `array_sort(transform(arr, hash32))` —
    * ascending, duplicate hashes kept, nulls last.
    */
  def hash32Sorted(arr: ArrayData): ArrayData = hash32Array(arr, 2)

  /** `graft_hash32_sorted_distinct`:
    * `array_sort(array_distinct(transform(arr, hash32)))` — ascending
    * distinct, one null last.
    */
  def hash32SortedDistinct(arr: ArrayData): ArrayData = hash32Array(arr, 3)

  /** Elementwise md5-prefix hash32 of a string array in one pass; null
    * elements hash to null, like `hash32(null)`. `mode` picks the chain
    * replicated (1 distinct, 2 sorted, 3 sorted distinct).
    */
  private def hash32Array(arr: ArrayData, mode: Int): ArrayData = {
    val md = mdPool.get()
    val n = arr.numElements()
    mode match {
      case 1 =>
        val seen = new java.util.LinkedHashSet[java.lang.Long]
        var i = 0
        while (i < n) {
          seen.add(if (arr.isNullAt(i)) null
            else java.lang.Long.valueOf(h32u(md, arr.getUTF8String(i))))
          i += 1
        }
        val out = new Array[Any](seen.size())
        val it = seen.iterator()
        var k = 0
        while (it.hasNext) { out(k) = it.next(); k += 1 }
        new GenericArrayData(out)
      case 2 =>
        val vals = new Array[Long](n)
        var nNull = 0
        var i = 0
        while (i < n) {
          if (arr.isNullAt(i)) nNull += 1
          else { vals(i - nNull) = h32u(md, arr.getUTF8String(i)) }
          i += 1
        }
        java.util.Arrays.sort(vals, 0, n - nNull)
        val out = new Array[Any](n)
        var k = 0
        while (k < n - nNull) { out(k) = java.lang.Long.valueOf(vals(k)); k += 1 }
        // array_sort default comparator: nulls LAST
        new GenericArrayData(out)
      case 3 =>
        val seen = new java.util.HashSet[java.lang.Long](n * 2)
        var hasNull = false
        var i = 0
        while (i < n) {
          if (arr.isNullAt(i)) hasNull = true
          else seen.add(java.lang.Long.valueOf(h32u(md, arr.getUTF8String(i))))
          i += 1
        }
        val vals = new Array[Long](seen.size())
        val it = seen.iterator()
        var k = 0
        while (it.hasNext) { vals(k) = it.next().longValue(); k += 1 }
        java.util.Arrays.sort(vals)
        val out = new Array[Any](vals.length + (if (hasNull) 1 else 0))
        k = 0
        while (k < vals.length) { out(k) = java.lang.Long.valueOf(vals(k)); k += 1 }
        new GenericArrayData(out)
      case other =>
        throw new IllegalArgumentException(s"hash32Array: unknown mode $other")
    }
  }

  /** `graft_minhash_signature`: text → word shingles → md5-derived
    * hash32 → one affine minimum per [[Hashing.HashA]] member →
    * array<long> (all-NULL below [[ShingleK]] words). The HOF chain in
    * [[graft.dedup.Dedup]] is semantically identical but evaluates one
    * interpreted lambda per array element — measured ~4 s for 5k docs
    * at sf0.1 (~3M lambda invocations). Bit-identical to it and to the
    * DuckDB oracle SQL (DedupSpec).
    */
  def minhash(text: UTF8String): ArrayData = {
    val shingleK = ShingleK
    val numHashes = Hashing.HashA.length
    val words = text.toString.split("\\s+", -1)
    if (words.length < shingleK) {
      return new GenericArrayData(Array.fill[Any](numHashes)(null))
    }
    val md = mdPool.get()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    val sb = new java.lang.StringBuilder
    while (i <= words.length - shingleK) {
      sb.setLength(0)
      var j = 0
      while (j < shingleK) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      val hp = h32(md, sb.toString) % Hashing.P
      var k = 0
      while (k < numHashes) {
        val v = (hp * Hashing.HashA(k) + Hashing.HashB(k)) % Hashing.P
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(Long.box(_): Any))
  }

  /** `graft_minhash_bands`: LSH band values (r=2 rows/band) straight
    * from an already-computed shingle array: minhash mins then
    * band_j = h(2j)*P + h(2j+1). One
    * imperative pass per row — lets a query that also needs the shingles
    * downstream (candidate-gated exact scoring) share ONE shingle frame
    * between banding and scoring instead of recomputing the text→shingle
    * chain per consumer. Bit-identical to bandValues(minhash(text)):
    * duplicates in the input can't change a min, and an empty shingle
    * set yields all-null bands exactly like a below-k document. A NULL
    * element is skipped, as `array_min` skips a NULL hash; an array of
    * only NULLs counts as empty.
    */
  def minhashBands(arr: ArrayData): ArrayData = {
    val numHashes = Hashing.HashA.length
    val nBands = numHashes / 2
    val md = mdPool.get()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var seen = false
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        seen = true
        val hp = h32u(md, arr.getUTF8String(i)) % Hashing.P
        var k = 0
        while (k < numHashes) {
          val v = (hp * Hashing.HashA(k) + Hashing.HashB(k)) % Hashing.P
          if (v < mins(k)) mins(k) = v
          k += 1
        }
      }
      i += 1
    }
    if (!seen) return new GenericArrayData(Array.fill[Any](nBands)(null))
    val bands = new Array[Any](nBands)
    var j = 0
    while (j < nBands) {
      bands(j) = mins(2 * j) * Hashing.P + mins(2 * j + 1)
      j += 1
    }
    new GenericArrayData(bands)
  }

  /** `graft_shingles`: distinct [[ShingleK]]-word shingles, text →
    * whitespace split → k-grams joined with one space, first-occurrence
    * order. Identical to the HOF chain in
    * [[graft.text.TextFunctions.shingleSet]]
    * (`array_distinct(transform(sequence(...), concat_ws(slice(...))))`),
    * which evaluates ~4 interpreted lambdas per shingle (TextSpec). It
    * feeds every candidate-gated dedup pipeline (q32, q87), where
    * shingling was the dominant per-row cost. Empty array when the
    * document has fewer than k tokens.
    */
  def shingleSet(text: UTF8String): ArrayData = {
    val shingleK = ShingleK
    val words = text.toString.split("\\s+", -1)
    if (words.length < shingleK) {
      return new GenericArrayData(Array.empty[Any])
    }
    val seen = new java.util.LinkedHashSet[UTF8String]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= words.length - shingleK) {
      sb.setLength(0)
      var j = 0
      while (j < shingleK) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      seen.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    new GenericArrayData(seen.toArray(Array.empty[AnyRef]).asInstanceOf[Array[Any]])
  }

  /** `graft_ngram_hist`: hashed char-3-gram histogram in one code-point
    * pass — per position i, bucket ((c_i·31 + c_{i+1})·31 + c_{i+2})
    * mod P mod B (B = `Curation5.NGramB`) over the document's code
    * points; returns (b, nb) structs sorted by bucket. Fewer than 3
    * code points → empty array.
    *
    * It replaces the T182/T189 chain `transform(sequence(...),
    * ascii(substr(text, i, 1)))` → 3-gram transform → explode →
    * groupBy(b).count, with the same integer hash over the same code
    * points (DuckDB's `ascii(substr(text, i, 1))` is the code point of
    * character i), so the oracle twin is untouched. `substr` on a
    * UTF8String is an O(i) scan, which made the chain O(len²) per
    * document (~440M character scans per query at sf0.1), and its
    * explode shuffled corpus-sized gram rows that this pre-aggregates
    * inside the scan task.
    *
    * The accumulator is a reused thread-local long[B] with a
    * touched-bucket list: zeroing only touched slots keeps the per-row
    * cost proportional to the document, not to B.
    */
  def ngramHist(text: UTF8String): ArrayData = {
    val buckets = graft.queries.Curation5.NGramB
    val prime = Hashing.P
    val s = text.toString
    var acc = ngramAcc.get()
    if (acc == null) {
      acc = new Array[Long](buckets)
      ngramAcc.set(acc)
      ngramTouched.set(new Array[Int](buckets))
    }
    val touched = ngramTouched.get()
    var nTouched = 0
    try {
      // rolling window of the last three code points
      var c1 = 0L; var c2 = 0L; var c3 = 0L
      var seen = 0
      var off = 0
      while (off < s.length) {
        val cp = s.codePointAt(off)
        off += Character.charCount(cp)
        c1 = c2; c2 = c3; c3 = cp.toLong
        seen += 1
        if (seen >= 3) {
          val b = (((c1 * 31 + c2) * 31 + c3) % prime % buckets).toInt
          if (acc(b) == 0L) { touched(nTouched) = b; nTouched += 1 }
          acc(b) += 1L
        }
      }
      if (nTouched == 0) return new GenericArrayData(Array.empty[Any])
      java.util.Arrays.sort(touched, 0, nTouched)
      val out = new Array[Any](nTouched)
      var i = 0
      while (i < nTouched) {
        val b = touched(i)
        out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](b.toLong, acc(b)))
        acc(b) = 0L // reset for the next row
        i += 1
      }
      new GenericArrayData(out)
    } catch {
      // exception safety (ADVICE r16): the accumulator is a reused
      // thread-local — if anything throws mid-row, zero every touched
      // slot (idempotent for slots the output loop already reset) so
      // stale counts cannot leak into later rows on this thread
      case t: Throwable =>
        var i = 0
        while (i < nTouched) { acc(touched(i)) = 0L; i += 1 }
        throw t
    }
  }

  // one accumulator per task thread for [[ngramHist]], sized at first use
  private val ngramAcc = new ThreadLocal[Array[Long]]
  private val ngramTouched = new ThreadLocal[Array[Int]]

  /** Streaming variant of [[shingleSet]] for the Generator path: yields
    * each first-occurrence distinct shingle as it is found instead of
    * materializing the array. Same order, same elements.
    */
  def shingleIterator(text: UTF8String): Iterator[UTF8String] = {
    val shingleK = ShingleK
    val words = text.toString.split("\\s+", -1)
    if (words.length < shingleK) return Iterator.empty
    val seen = new java.util.HashSet[UTF8String]
    val sb = new java.lang.StringBuilder
    (0 to words.length - shingleK).iterator.flatMap { i =>
      sb.setLength(0)
      var j = 0
      while (j < shingleK) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      val s = UTF8String.fromString(sb.toString)
      if (seen.add(s)) Iterator.single(s) else Iterator.empty
    }
  }

  /** `graft_simhash`: 32-bit SimHash in one pass (text → tokens →
    * md5-hash32 per token → per-bit vote → digest). Bit-identical to
    * [[graft.dedup.Dedup.simhash32]], whose HOF form pays ~32×tokens
    * interpreted lambda evals per row, and to the DuckDB oracle
    * (DedupSpec).
    */
  def simhash(text: UTF8String): Long = {
    val words = text.toString.split("\\s+", -1)
    val md = mdPool.get()
    val votes = new Array[Long](32)
    var i = 0
    while (i < words.length) {
      val h = h32(md, words(i))
      var b = 0
      while (b < 32) { votes(b) += ((h >> b) & 1L) * 2 - 1; b += 1 }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < 32) { if (votes(b) > 0) sim += 1L << b; b += 1 }
    sim
  }

  /** `graft_lsh_bucket`: sign-pattern LSH bucket of a 64-dim double
    * vector over 8 LCG-derived hyperplanes — the imperative twin of
    * [[graft.similarity.Vectors.lshBucket]], which pays ~8×64
    * interpreted lambda evals per row. Bit-identical coefficients and
    * fold order (DedupSpec, VectorsSpec).
    */
  def lshBucket(arr: ArrayData): Long = {
    val nPlanes = 8
    val v = arr.toDoubleArray()
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      var acc = 0.0
      var d = 0
      while (d < 64 && d < v.length) {
        val lcg = ((p.toLong * 64 + d) * 1103515245L + 12345L) % 2147483648L
        acc += v(d) * (lcg.toDouble / 2147483648.0 - 0.5)
        d += 1
      }
      if (acc > 0) bucket += 1L << p
      p += 1
    }
    bucket
  }

  /** `graft_inter_union` over two array<string>: distinct-element
    * |A∩B| and |A∪B| in one pass, struct(inter, uni) — the exact
    * integer pair the PPJoin-family verifies cross-multiply against the
    * threshold. Null elements count as one distinct value each side,
    * matching `size(array_intersect)`/`size(array_union)`; that
    * composition walks both arrays twice through generic per-element
    * dispatch and builds four hash tables, this builds two (q106's
    * 310k-candidate verify at sf0.1: 9.4 → 5.9 s).
    */
  def interUnionStr(l: ArrayData, r: ArrayData)
      : org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val setA = new java.util.HashSet[UTF8String](l.numElements() * 2)
    var nullA = false
    var i = 0
    while (i < l.numElements()) {
      if (l.isNullAt(i)) nullA = true else setA.add(l.getUTF8String(i))
      i += 1
    }
    val setB = new java.util.HashSet[UTF8String](r.numElements() * 2)
    var nullB = false
    var inter = 0L
    i = 0
    while (i < r.numElements()) {
      if (r.isNullAt(i)) nullB = true
      else {
        val e = r.getUTF8String(i)
        if (setB.add(e) && setA.contains(e)) inter += 1
      }
      i += 1
    }
    if (nullA && nullB) inter += 1
    val union = setA.size().toLong + setB.size().toLong - inter +
      (if (nullA || nullB) 1L else 0L) +
      (if (nullA && nullB) 1L else 0L) // nulls folded out of both sets
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](inter, union))
  }

  /** [[interUnionStr]] for two array<bigint> (hashed shingles, minhash
    * lattices); the spec row picks the kernel by element type.
    */
  def interUnionLong(l: ArrayData, r: ArrayData)
      : org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val setA = new java.util.HashSet[java.lang.Long](l.numElements() * 2)
    var nullA = false
    var i = 0
    while (i < l.numElements()) {
      if (l.isNullAt(i)) nullA = true else setA.add(l.getLong(i))
      i += 1
    }
    val setB = new java.util.HashSet[java.lang.Long](r.numElements() * 2)
    var nullB = false
    var inter = 0L
    i = 0
    while (i < r.numElements()) {
      if (r.isNullAt(i)) nullB = true
      else {
        val e = java.lang.Long.valueOf(r.getLong(i))
        if (setB.add(e) && setA.contains(e)) inter += 1
      }
      i += 1
    }
    if (nullA && nullB) inter += 1
    val union = setA.size().toLong + setB.size().toLong - inter +
      (if (nullA || nullB) 1L else 0L) +
      (if (nullA && nullB) 1L else 0L)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](inter, union))
  }

  /** `graft_winnow_fp`: winnowing fingerprints (T112, the MOSS scheme)
    * in one pass — whitespace words → positional 3-word shingle hash32s
    * → sliding windows of 4 → each window's minimum → first-occurrence
    * distinct. Identical to the HOF chain it replaced in
    * `Curation4.winnowExplode` (same Java regex `\s+` split keeping a
    * leading empty token, same md5-prefix hash as the SQL
    * `conv(substring(md5(..),1,8),16,10)`, same window minima and
    * order), which evaluated ~300 interpreted lambdas (one md5 each)
    * plus ~290 slice allocations per document. Empty when the doc has
    * < 3 words or < 4 shingles (the explode drops it, like the old
    * pre-filters).
    */
  def winnowFp(text: UTF8String): ArrayData = {
    val w = 4
    val words = text.toString.split("\\s+", -1)
    val nSh = words.length - 2
    if (nSh < w) return new GenericArrayData(Array.empty[Any])
    val md = mdPool.get()
    val hs = new Array[Long](nSh)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < nSh) {
      sb.setLength(0)
      sb.append(words(i)).append(' ').append(words(i + 1))
        .append(' ').append(words(i + 2))
      hs(i) = h32(md, sb.toString)
      i += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]
    i = 0
    while (i <= nSh - w) {
      var mn = hs(i)
      var j = 1
      while (j < w) {
        if (hs(i + j) < mn) mn = hs(i + j)
        j += 1
      }
      seen.add(mn)
      i += 1
    }
    new GenericArrayData(
      seen.toArray(Array.empty[AnyRef]).asInstanceOf[Array[Any]])
  }

  /** `graft_pos_close`: true iff two ascending integer position lists
    * hold a pair within `d` — the Ed-Join location-based filter's join
    * predicate, evaluated once per gram-equal candidate pair. The HOF
    * form `exists(a, pa -> exists(b, pb -> abs(pa-pb) <= d))` ran two
    * interpreted lambdas per element pair; this is a two-pointer walk,
    * O(|a|+|b|). The two-pointer walk is only
    * correct for ascending lists (the production builders emit them
    * sorted by construction); because graft_pos_close is also exposed
    * as a general SQL function, a descending step detected during the
    * walk falls back to the exact O(n·m) scan (ADVICE r16) — lists are
    * a few elements, so the guard costs two compares per step.
    */
  def posClose(a: ArrayData, b: ArrayData, d: Long): Boolean = {
    if (!ascending(a) || !ascending(b)) return posCloseScan(a, b, d)
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (math.abs(x - y) <= d) return true
      if (x < y) i += 1 else j += 1
    }
    false
  }

  private def ascending(a: ArrayData): Boolean = {
    val n = a.numElements()
    var i = 1
    while (i < n) {
      if (a.getLong(i) < a.getLong(i - 1)) return false
      i += 1
    }
    true
  }

  /** Exact quadratic fallback for [[posClose]] on unsorted input. */
  private def posCloseScan(a: ArrayData, b: ArrayData, d: Long): Boolean = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    while (i < na) {
      val x = a.getLong(i)
      var j = 0
      while (j < nb) {
        if (math.abs(x - b.getLong(j)) <= d) return true
        j += 1
      }
      i += 1
    }
    false
  }

  /** `graft_jaccard`: Jaccard similarity over distinct elements in one
    * hash-set pass — the twin of `size(array_intersect)/size(array_union)`
    * ([[graft.dedup.Dedup.jaccard]]), bit-identical to it and the DuckDB
    * oracle. Documented deviation: empty ∪ empty yields 0.0 here, where
    * the ANSI division would error.
    */
  def jaccard(l: ArrayData, r: ArrayData): Double = {
    val setA = new java.util.HashSet[UTF8String](l.numElements() * 2)
    var i = 0
    while (i < l.numElements()) { setA.add(l.getUTF8String(i)); i += 1 }
    val setB = new java.util.HashSet[UTF8String](r.numElements() * 2)
    var inter = 0
    i = 0
    while (i < r.numElements()) {
      val e = r.getUTF8String(i)
      if (setB.add(e) && setA.contains(e)) inter += 1
      i += 1
    }
    val union = setA.size() + setB.size() - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** `graft_nearest_seed`: nearest-seed (squared-L2 argmin) cluster
    * assignment of a vector against a codebook, the kernel of
    * q114/q115/q120. The spec row types it (array<double>,
    * array<struct<bigint, array<double>>>) at analysis time, so an
    * array<float> vector cannot make `getDouble` read wrong bytes; the
    * struct field names are free. One imperative pass over the (sorted) seed
    * array, strict `<` keeping the earlier (smaller-sid) seed on ties —
    * bit-identical to the HOF composition (aggregate over sqDist
    * zip_with folds, same add order) but without the per-step struct
    * allocation and interpreted lambda evals that made large-k
    * assignment wall-bound (measured: minutes at k=800 x 50k rows
    * interpreted). seeds: array<struct<sid: long, se: array<double>>>.
    */
  def nearestSeed(e: ArrayData, seeds: ArrayData): Long = {
    val n = e.numElements()
    var best = -1L
    var bestD = Double.MaxValue
    var i = 0
    val k = seeds.numElements()
    while (i < k) {
      val st = seeds.getStruct(i, 2)
      val se = st.getArray(1)
      // UnsafeArrayData.getDouble does NOT bounds-check: a seed vector
      // shorter than the query would silently read adjacent memory
      if (se.numElements() < n)
        throw new IllegalArgumentException(
          s"graft_nearest_seed: seed vector has ${se.numElements()} dims, query has $n")
      var d = 0.0
      var j = 0
      while (j < n) {
        val diff = e.getDouble(j) - se.getDouble(j)
        d += diff * diff
        j += 1
      }
      if (d < bestD) { bestD = d; best = st.getLong(0) }
      i += 1
    }
    best
  }

  // Stopword-profile tables for [[langId]] — built once from the same
  // public lists the HOF form reads (TextFunctions.LangStopwords),
  // SORTED ascending by language code so that "later index" ==
  // "lexicographically larger code" (the argmax tiebreak below relies
  // on it; sorting here keeps that true even if the table is ever
  // reordered).
  private lazy val langIdTable: Seq[(String, Seq[String])] =
    graft.text.TextFunctions.LangStopwords.sortBy(_._1)
  private lazy val langIdLangs: Array[UTF8String] =
    langIdTable.map(p => UTF8String.fromString(p._1)).toArray
  private lazy val langIdStops: java.util.HashMap[String, Int] = {
    val m = new java.util.HashMap[String, Int]
    for (((_, stops), i) <- langIdTable.zipWithIndex; w <- stops) {
      val prev = m.getOrDefault(w, 0)
      m.put(w, prev | (1 << i))
    }
    m
  }
  private val langIdUnd = UTF8String.fromString("und")

  /** `graft_lang_id`: stopword-profile language ID (the q40/q177
    * heuristic) in one tokenization pass, replacing four interpreted
    * `filter(ws, isin(...))` walks plus an array_max over scoring
    * structs per document: ws = split(lower(text), "\\s+") (Java regex,
    * limit -1 — the Spark `split` semantics), score per language =
    * stopword OCCURRENCE count (not distinct), winner = max by
    * (score, code) — the exact struct-array_max tiebreak of the HOF
    * form: ties toward the lexicographically largest code, and the
    * zero-score "und" sentinel wins iff every profile scores 0
    * ("und" sorts above every language code).
    */
  def langId(text: UTF8String): UTF8String = {
    val words = text.toLowerCase.toString.split("\\s+", -1)
    val nLangs = langIdLangs.length
    val scores = new Array[Int](nLangs)
    var i = 0
    while (i < words.length) {
      val mask = langIdStops.getOrDefault(words(i), 0)
      if (mask != 0) {
        var j = 0
        var m = mask
        while (m != 0) {
          if ((m & 1) != 0) scores(j) += 1
          m >>>= 1
          j += 1
        }
      }
      i += 1
    }
    // argmax by (score, code): codes ascend with index, so the later
    // index wins ties — identical to array_max over (score, lang)
    var best = 0
    var j = 1
    while (j < nLangs) {
      if (scores(j) >= scores(best)) best = j
      j += 1
    }
    // the zero-score "und" sentinel rides the same max: it wins only
    // when the best profile also scores 0 AND its code sorts below
    // "und" (true for every current code; kept faithful regardless)
    if (scores(best) == 0 && langIdLangs(best).compareTo(langIdUnd) < 0)
      langIdUnd
    else langIdLangs(best)
  }

  /** `graft_cdc_chunks`: content-defined chunk digests (q202's
    * FastCDC-style word chunker) in one pass, replacing a per-word hash
    * transform + boundary filter + per-chunk slice/concat/md5 transform
    * chain: words (Java regex `\\s+` split, limit -1) → per-word hash32 →
    * boundaries where the 4-word Karp-Rabin polynomial ≡ 0 (mod 8) →
    * md5 hex digest of each space-joined chunk. Bit-identical to the
    * HOF chain q202 ran before it (boundaries at 1-based
    * positions i ≥ 4 with (g[i-3]·29791 + g[i-2]·961 + g[i-1]·31 +
    * g[i]) % 8 == 0 over 1-based g; chunk k spans ss(k)..es(k); empty
    * spans skipped). Returns the digests in chunk order, duplicates
    * kept — the explode consumer sees exactly the old rows.
    */
  def cdcChunks(text: UTF8String): ArrayData = {
    val words = text.toString.split("\\s+", -1)
    val n = words.length
    val md = mdPool.get()
    val gs = new Array[Long](n)
    var i = 0
    while (i < n) { gs(i) = h32(md, words(i)); i += 1 }
    // boundary positions, 1-based (the HOF's filter over sequence(1, n))
    val bs = new java.util.ArrayList[Int]
    i = 4
    while (i <= n) {
      if ((gs(i - 4) * 29791L + gs(i - 3) * 961L + gs(i - 2) * 31L +
          gs(i - 1)) % 8 == 0) bs.add(i)
      i += 1
    }
    val nb = bs.size()
    val out = new java.util.ArrayList[Any](nb + 1)
    val sb = new java.lang.StringBuilder
    var k = 0
    while (k <= nb) {
      val ss = if (k == 0) 1 else bs.get(k - 1) + 1
      val es = if (k == nb) n else bs.get(k)
      if (es >= ss) {
        sb.setLength(0)
        var w = ss - 1
        while (w < es) {
          if (w > ss - 1) sb.append(' ')
          sb.append(words(w))
          w += 1
        }
        val d = md.digest(sb.toString.getBytes("UTF-8"))
        md.reset()
        out.add(UTF8String.fromString(hexLower(d)))
      }
      k += 1
    }
    new GenericArrayData(out.toArray)
  }

  private def hexLower(d: Array[Byte]): String = {
    val hex = "0123456789abcdef"
    val cs = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      cs(2 * i) = hex((d(i) >> 4) & 0xf)
      cs(2 * i + 1) = hex(d(i) & 0xf)
      i += 1
    }
    new String(cs)
  }

  /** `graft_fingerprint`: rolling polynomial fold over a string's code
    * points, fold((acc·31 + cp) mod P) from 0 — exactly
    * `aggregate(sequence(1, length(c)), 0L, (acc, i) -> (acc*31 +
    * ascii(substr(c, i, 1))) % P)` (Spark's length/substr/ascii walk
    * code points), whose HOF form is O(len²) per string because
    * substr(c, i, 1) is an O(i) scan. Empty string → 0, matching the
    * `when(length > 0, ...).otherwise(0)` guard in the HOF builder.
    * The guard also maps NULL to 0, but a NULL never reaches this
    * function: `graft_fingerprint(NULL)` is NULL.
    */
  def fingerprint(text: UTF8String): Long = {
    val s = text.toString
    var acc = 0L
    var off = 0
    while (off < s.length) {
      val cp = s.codePointAt(off)
      off += Character.charCount(cp)
      acc = (acc * 31 + cp) % Hashing.P
    }
    acc
  }

  /** `graft_hashed_buckets`: hashed-feature buckets, one per whitespace
    * token (fastText-style, the T42/DSIR feature map): bucket =
    * [[fingerprint]](token) mod 1024. Order-preserving, empty tokens
    * bucket 0 — identical to
    * `transform(split(text, "\\s+"), w -> fingerprint(w) % 1024)`
    * without its per-token interpreted folds.
    */
  def hashedBuckets(text: UTF8String): ArrayData = {
    val buckets = FeatureBuckets
    val words = text.toString.split("\\s+", -1)
    val out = new Array[Any](words.length)
    var i = 0
    while (i < words.length) {
      out(i) = java.lang.Long.valueOf(
        fingerprintStr(words(i)) % buckets)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `graft_hashed_score`: closed-form linear score over
    * [[hashedBuckets]] without the intermediate array:
    * Σ (bucket mod 201 − 100) — identical to
    * `aggregate(hashedBuckets(..), 0L, (acc, b) -> acc + (b % 201 -
    * 100))` (the T42 quality score).
    */
  def hashedScore(text: UTF8String): Long = {
    val buckets = FeatureBuckets
    val words = text.toString.split("\\s+", -1)
    var score = 0L
    var i = 0
    while (i < words.length) {
      score += fingerprintStr(words(i)) % buckets % 201 - 100
      i += 1
    }
    score
  }

  private def fingerprintStr(s: String): Long = {
    var acc = 0L
    var off = 0
    while (off < s.length) {
      val cp = s.codePointAt(off)
      off += Character.charCount(cp)
      acc = (acc * 31 + cp) % Hashing.P
    }
    acc
  }

  /** `graft_multiscale_windows`: multiscale rolling window hashes
    * (q271's 4-tier generator) as array<struct<tier, i, wh>>, over the
    * tiers `Curation5.Tiers` with base `Curation5.RollB`. The
    * typed-Dataset flatMap it replaced paid Seq[String]
    * deserialization + per-window tuple re-encoding for every row. Per token one md5-prefix hash32, then
    * for each tier length l every window's polynomial hash by O(1)
    * rolling update — h_1 = fold((h·B + hs_j) mod P) over the first l
    * tokens, h_{i+1} = ((h_i + P − hs_{i−l}·B^{l−1} mod P) mod P · B +
    * hs_i) mod P. Bit-identical to the typed-Dataset flatMap it
    * replaces (same hash, same update, same (tier, 1-based start,
    * hash) rows in the same order); tiers shorter than the doc emit
    * nothing, docs shorter than every tier emit an empty array. A NULL
    * token has no hash, so no window over it is emitted; windows clear
    * of it keep their positions and hashes.
    */
  def multiscaleWindows(ws: ArrayData): ArrayData = {
    val tiers = windowTiers
    val rollB = graft.queries.Curation5.RollB
    val P = Hashing.P
    val n = ws.numElements()
    val md = mdPool.get()
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (!ws.isNullAt(i)) hs(i) = h32u(md, ws.getUTF8String(i))
      i += 1
    }
    var total = 0
    var t = 0
    while (t < tiers.length) {
      if (n >= tiers(t)) total += n - tiers(t) + 1
      t += 1
    }
    val out = new Array[Any](total)
    var o = 0
    t = 0
    while (t < tiers.length) {
      val l = tiers(t)
      if (n >= l) {
        var pow = 1L
        var k = 0
        while (k < l - 1) { pow = pow * rollB % P; k += 1 }
        var h = 0L
        var nulls = 0 // NULL tokens inside the current window
        var j = 0
        while (j < l) {
          h = (h * rollB + hs(j)) % P
          if (ws.isNullAt(j)) nulls += 1
          j += 1
        }
        if (nulls == 0) {
          out(o) = new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(Array[Any](l, 1, h))
          o += 1
        }
        i = l
        while (i < n) {
          h = ((h + P - hs(i - l) * pow % P) % P * rollB + hs(i)) % P
          if (ws.isNullAt(i - l)) nulls -= 1
          if (ws.isNullAt(i)) nulls += 1
          if (nulls == 0) {
            out(o) = new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(Array[Any](l, i - l + 2, h))
            o += 1
          }
          i += 1
        }
      }
      t += 1
    }
    new GenericArrayData(if (o == total) out else out.take(o))
  }

  private lazy val windowTiers = graft.queries.Curation5.Tiers.toArray

  /** `graft_coverage_stats`: multiscale coverage statistics (q271's span
    * algebra) in one pass, replacing a chain of interpreted
    * array_sort/array_distinct/array_except/filter-with-array_contains
    * HOFs, the last of which was O(|u|²) per document. Inputs: the four
    * per-tier covered-position arrays (each already distinct by
    * construction; treated set-wise exactly like the HOF forms).
    * Returns struct(covered, t64, t32, t16, t8, n_spans,
    * longest_span), all longs, where:
    *  - covered = |distinct(v64 ∪ v32 ∪ v16 ∪ v8)|;
    *  - t64 = size(v64) (raw, matching `size(col)`), t32 =
    *    |distinct(v32) \ v64|, t16 = |distinct(v16) \ (v64 ∪ v32)|,
    *    t8 = |distinct(v8) \ (v64 ∪ v32 ∪ v16)| (array_except
    *    semantics: distinct left minus right);
    *  - spans: maximal runs of consecutive positions in the union —
    *    n_spans = run count (== |heads|), longest_span = max run
    *    length, 0 when the union is empty (the coalesce'd
    *    array_max(zip_with(heads, tails, ..)) form).
    */
  def coverageStats(v64: ArrayData, v32: ArrayData, v16: ArrayData,
      v8: ArrayData)
      : org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val seen = new java.util.HashSet[java.lang.Long](
      (v64.numElements() + v32.numElements() + v16.numElements() +
        v8.numElements()) * 2)
    var i = 0
    while (i < v64.numElements()) { seen.add(v64.getLong(i)); i += 1 }
    val t64 = v64.numElements().toLong
    var t32 = 0L
    val dup32 = new java.util.HashSet[java.lang.Long](v32.numElements() * 2)
    i = 0
    while (i < v32.numElements()) {
      val p = java.lang.Long.valueOf(v32.getLong(i))
      if (dup32.add(p) && !seen.contains(p)) t32 += 1
      i += 1
    }
    seen.addAll(dup32)
    var t16 = 0L
    val dup16 = new java.util.HashSet[java.lang.Long](v16.numElements() * 2)
    i = 0
    while (i < v16.numElements()) {
      val p = java.lang.Long.valueOf(v16.getLong(i))
      if (dup16.add(p) && !seen.contains(p)) t16 += 1
      i += 1
    }
    seen.addAll(dup16)
    var t8 = 0L
    val dup8 = new java.util.HashSet[java.lang.Long](v8.numElements() * 2)
    i = 0
    while (i < v8.numElements()) {
      val p = java.lang.Long.valueOf(v8.getLong(i))
      if (dup8.add(p) && !seen.contains(p)) t8 += 1
      i += 1
    }
    seen.addAll(dup8)
    val u = new Array[Long](seen.size())
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { u(i) = it.next().longValue(); i += 1 }
    java.util.Arrays.sort(u)
    var nSpans = 0L
    var longest = 0L
    var runStart = 0
    i = 0
    while (i < u.length) {
      if (i + 1 >= u.length || u(i + 1) != u(i) + 1) {
        nSpans += 1
        val len = i - runStart + 1L
        if (len > longest) longest = len
        runStart = i + 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](u.length.toLong, t64, t32, t16, t8, nSpans, longest))
  }

  /** `graft_nfc`: Unicode NFC canonicalization — the curation step that
    * must precede any hash-based dedup on multilingual text ("Café" with
    * a precomposed é and with e+U+0301 are one document to a reader but
    * different bytes to every digest). Spark has no built-in
    * normalizer. DuckDB twin: `nfc_normalize` (q123). Fast path:
    * `isNormalized` is a cheap scan and true for virtually all real
    * text, so the common case allocates nothing.
    */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** `graft_dot`: sequential-fold dot product of two double arrays —
    * the codegen'd kernel of the similarity family's pair scoring (T191
    * scores ~1.9M 64-dim pairs) and the imperative twin of `aggregate(zip_with(a, b, _*_), 0.0, _+_)`
    * ([[graft.similarity.Vectors.dot]]): IDENTICAL fold order, so the
    * accumulated IEEE double is bit-for-bit the HOF's (and the DuckDB
    * list_reduce oracle's) at every input. Null on length mismatch or
    * any null element (zip_with pads the shorter side with nulls and
    * null×x → null → null sum — same observable result). The HOF runs
    * the lambda machinery interpreted per element (~150k 64-dim folds
    * per second measured); this loop JITs.
    */
  def dotSeq(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}
