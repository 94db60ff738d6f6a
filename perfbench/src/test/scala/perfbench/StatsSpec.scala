package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile is nearest-rank") {
    val xs = (1 to 10).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 91) == 10.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
  }

  test("a p90 needs 100 samples of its class") {
    assert(Stats.p90((1 to 99).map(_.toDouble)).isEmpty)
    assert(Stats.p90((1 to 100).map(_.toDouble)).contains(90.0))
    assert(Stats.p90((1 to 200).map(_.toDouble)).contains(180.0))
  }

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("union of intervals merges overlaps and clips to the window") {
    assert(Stats.unionLength(Nil, 0, 10) == 0.0)
    assert(Stats.unionLength(Seq((1.0, 3.0), (2.0, 5.0)), 0, 10) == 4.0)
    assert(Stats.unionLength(Seq((1.0, 9.0), (2.0, 3.0)), 0, 10) == 8.0) // nested
    assert(Stats.unionLength(Seq((6.0, 7.0), (1.0, 2.0)), 0, 10) == 2.0) // disjoint, unsorted
    assert(Stats.unionLength(Seq((-5.0, 2.0), (8.0, 20.0)), 0, 10) == 4.0) // clipped
    assert(Stats.unionLength(Seq((11.0, 12.0), (3.0, 3.0)), 0, 10) == 0.0)
    assert(Stats.unionLength(Seq((1.0, 2.0), (2.0, 4.0)), 0, 10) == 3.0) // touching
  }
}
