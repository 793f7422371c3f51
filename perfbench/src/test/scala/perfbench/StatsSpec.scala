package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even samples") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("quantiles interpolate between the closest ranks") {
    val xs = Seq(1.0, 2.0, 3.0, 4.0)
    assert(Stats.quantile(xs, 0.25) == 1.75) // h = 0.75
    assert(Stats.quantile(xs, 0.75) == 3.25) // h = 2.25
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    val hundred = (1 to 100).map(_.toDouble)
    assert(math.abs(Stats.quantile(hundred, 0.99) - 99.01) < 1e-9) // h = 98.01
    assert(math.abs(Stats.quantile(hundred, 0.9) - 90.1) < 1e-9)   // h = 89.1
  }

  test("a tail percentile needs ten samples beyond it") {
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(xs.take(999), 0.99).isEmpty)
    assert(Stats.tail(xs, 0.99).contains(Stats.quantile(xs, 0.99)))
    assert(Stats.tail(xs.take(99), 0.9).isEmpty)
    assert(Stats.tail(xs.take(100), 0.9).isDefined)
  }

  test("a layer figure without enough samples reads 0") {
    val s = new Workload.Samples
    s.add("x", (1 to 500).map(_.toDouble))
    assert(s.q("x", 0.99, 1.0) == 0.0)
    assert(s.q("x", 0.5, 2.0) == 501.0)
    assert(s.q("absent", 0.5, 1.0) == 0.0)
  }
}
