package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail needs at least ten samples beyond it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    val eleven = Stats.tail((1 to 11).map(_.toDouble).reverse).get
    assert(eleven.value == 1.0)
    assert(eleven.samples == 11)
    assert(math.abs(eleven.percentile - 100.0 / 11) < 1e-9)
  }

  test("tail is the highest statistic with ten samples above it") {
    val t = Stats.tail((1 to 100).map(_.toDouble)).get
    assert(t.value == 90.0)
    assert(t.percentile == 90.0)
    val xs = (1 to 40).map(_.toDouble)
    val u = Stats.tail(xs).get
    assert(xs.count(_ > u.value) == 10)
    assert(u.percentile == 75.0)
  }
}
