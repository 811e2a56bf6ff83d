package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.percentile(xs, 0.99) == 99.0)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 1.0) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("a percentile needs ten samples beyond its rank") {
    assert(!Stats.supported(999, 0.99) && Stats.supported(1000, 0.99))
    assert(!Stats.supported(19, 0.5) && Stats.supported(20, 0.5))
    assert(!Stats.supported(99, 0.9))
    assert(Stats.supported(100, 0.9))
    assert(Stats.beyond(100, 0.9) == 10)
    assert(!Stats.pct((1 to 99).map(_.toDouble), 0.9).ok)
    val p = Stats.pct((1 to 1000).map(_.toDouble), 0.99)
    assert(p.ok && p.value == 990.0 && p.n == 1000)
  }
}
