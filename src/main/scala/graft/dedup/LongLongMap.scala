package graft.dedup

/** Primitive open-addressing long→long hash map (linear probing, load
  * factor ≤ 1/2, power-of-two table), the state of the one-task
  * union-find in [[Dedup.localClusters]]. Two parallel `Array[Long]`s
  * hold keys and values — 16 B a slot, no boxing, no per-entry objects
  * (a `java.util.HashMap[java.lang.Long, java.lang.Long]` spends ~70 B
  * an entry on nodes and boxes).
  *
  * Key 0 marks an empty slot, so the key 0 itself is kept in a field.
  * Only `update` inserts; nothing removes.
  *
  * Memory: at most [[LongLongMap.memoryBound]] bytes for n keys.
  */
private[graft] final class LongLongMap {
  private var mask = 15
  private var keys = new Array[Long](mask + 1)
  private var vals = new Array[Long](mask + 1)
  private var hasZero = false
  private var zeroVal = 0L
  private var n = 0

  def size: Int = n

  /** Bytes held by the table arrays now. */
  def footprintBytes: Long = 16L * keys.length

  /** Slot of nonzero key `k`: where it is, or the empty slot it would take. */
  private def slot(k: Long): Int = {
    // fmix64 (MurmurHash3 finalizer): sequential ids spread over the table
    var h = k
    h = (h ^ (h >>> 33)) * 0xff51afd7ed558ccdL
    h = (h ^ (h >>> 33)) * 0xc4ceb9fe1a85ec53L
    var i = (h ^ (h >>> 33)).toInt & mask
    while (keys(i) != 0L && keys(i) != k) i = (i + 1) & mask
    i
  }

  def contains(k: Long): Boolean =
    if (k == 0L) hasZero else keys(slot(k)) == k

  /** The value of a key that is present. */
  def apply(k: Long): Long =
    if (k == 0L) zeroVal else vals(slot(k))

  def update(k: Long, v: Long): Unit =
    if (k == 0L) {
      if (!hasZero) { hasZero = true; n += 1 }
      zeroVal = v
    } else {
      var i = slot(k)
      if (keys(i) == 0L) {
        if (2 * (n + 1) > mask + 1) { grow(); i = slot(k) }
        keys(i) = k
        n += 1
      }
      vals(i) = v
    }

  /** The keys, read from the live table: values may change while it
    * runs, but no key may be inserted.
    */
  def keysIterator: Iterator[Long] =
    (0 to mask).iterator.map(keys(_)).filter(_ != 0L) ++
      (if (hasZero) Iterator.single(0L) else Iterator.empty)

  private def grow(): Unit = {
    val (oldKeys, oldVals) = (keys, vals)
    mask = 2 * mask + 1
    keys = new Array[Long](mask + 1)
    vals = new Array[Long](mask + 1)
    var i = 0
    while (i < oldKeys.length) {
      if (oldKeys(i) != 0L) {
        val j = slot(oldKeys(i))
        keys(j) = oldKeys(i)
        vals(j) = oldVals(i)
      }
      i += 1
    }
  }
}

private[graft] object LongLongMap {

  /** Peak bytes of a map holding `n` keys: its table of the smallest
    * power of two ≥ max(16, 2n) slots at 16 B each, plus the half-size
    * table alive while the last doubling copies it.
    */
  def memoryBound(n: Long): Long = {
    var slots = 16L
    while (slots < 2 * n) slots *= 2
    16L * slots + 16L * (slots / 2)
  }
}
