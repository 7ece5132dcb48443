package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Portable deterministic hashes (shared by dedup / LSH / fingerprints).
  *
  * Everything here must be reproducible outside Spark (the DuckDB oracle
  * re-derives it in SQL), so we build on md5 — the one hash both engines
  * implement byte-identically — rather than Spark's xxhash64/murmur.
  */
object Hashing {

  /** Modulus for all modular hash families (a Mersenne-adjacent prime
    * small enough that `a * h` never overflows a signed 64-bit long for
    * a < 2^32).
    */
  val P: Long = 1000000007L

  /** First 8 hex chars of md5 as an unsigned 32-bit value in a long. */
  def hash32(c: Column): Column =
    conv(substring(md5(encode(c, "UTF-8")), 1, 8), 16, 10).cast("long")

  /** Universal-hash family member j: x → (a_j * x + b_j) mod P. */
  def affine(x: Column, a: Long, b: Long): Column = (x % P * a + b) % P

  /** Multiplier/offset constants for the minhash family (public
    * Knuth/xxhash-style odd constants). Arrays: the per-shingle minhash
    * loops index them on every hash.
    */
  val HashA: Array[Long] = Array(2654435761L, 2246822519L, 3266489917L,
    668265263L, 374761393L, 3041204507L, 1181783497L, 2545602969L)
  val HashB: Array[Long] = Array(12345L, 67890L, 13579L, 24680L,
    11111L, 22222L, 33333L, 44444L)
}
