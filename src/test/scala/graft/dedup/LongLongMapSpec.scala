package graft.dedup

import org.scalatest.funsuite.AnyFunSuite

class LongLongMapSpec extends AnyFunSuite {

  test("LongLongMap agrees with a boxed map, key 0 and negative keys included") {
    val rnd = new scala.util.Random(7)
    val m = new LongLongMap
    val ref = scala.collection.mutable.HashMap[Long, Long]()
    val special = Seq(0L, -1L, Long.MinValue, Long.MaxValue, 1L)
    for (i <- 0 until 50000) {
      // small keys repeat (overwrites), large ones mostly do not
      val k = if (i % 10 == 0) special(i / 10 % special.size)
        else if (i % 2 == 0) rnd.nextInt(1000).toLong else rnd.nextLong()
      val v = rnd.nextLong()
      m(k) = v
      ref(k) = v
    }
    assert(m.size == ref.size)
    assert(m.keysIterator.toSet == ref.keySet)
    assert(ref.forall { case (k, v) => m.contains(k) && m(k) == v })
    assert(!m.contains(12345678901L) && !m.contains(2000L))
  }

  test("union-find state at the one-task edge ceiling stays within 192 MiB") {
    // the worst case at the ceiling: every edge disjoint, 2 ids an edge
    val ids = 2 * Dedup.LocalContractMaxEdges
    val bound = LongLongMap.memoryBound(ids)
    assert(bound == 192L << 20, s"bound $bound B")
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val self = Thread.currentThread().getId
    val before = threads.getThreadAllocatedBytes(self)
    val m = new LongLongMap
    var k = 1L
    while (k <= ids) { m(k) = k; k += 1 }
    val allocated = threads.getThreadAllocatedBytes(self) - before
    assert(m.size == ids && m(ids) == ids)
    // the live table is two thirds of the bound; the rest is the
    // half-size table copied by the last doubling
    assert(m.footprintBytes == bound * 2 / 3)
    // no per-entry objects: the doubling tables sum to under twice the
    // final one (1 MiB slack for array headers; a boxed map would add
    // tens of bytes for each of the 4M entries)
    assert(allocated < 2 * m.footprintBytes + (1L << 20), s"allocated $allocated B")
  }
}
