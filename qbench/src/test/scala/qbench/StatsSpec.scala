package qbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the tail percentile leaves at least 10 samples beyond it, and is the highest that does") {
    assert(Stats.tailPercent(100).contains(90))
    assert(Stats.tailPercent(10).isEmpty)
    assert(Stats.tailPercent(54).contains(81))
    for (n <- 11 to 2000) {
      val p = Stats.tailPercent(n).get
      def beyond(q: Int) = n - math.ceil(q / 100.0 * n).toInt
      assert(beyond(p) >= 10, s"n=$n p=$p")
      assert(p == 99 || beyond(p + 1) < 10, s"n=$n p=$p is not the highest")
    }
  }

  test("nearest-rank percentile and median") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.tail(xs) == (90, 90.0))
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.tail(Seq(1.0, 5.0)) == (100, 5.0))
  }
}
