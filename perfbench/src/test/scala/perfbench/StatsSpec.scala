package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a percentile needs ten samples beyond it") {
    assert(Stats.supports(100, 0.9) && !Stats.supports(99, 0.9))
    assert(Stats.supports(40, 0.75) && !Stats.supports(39, 0.75))
    assert(Stats.supports(20, 0.5) && !Stats.supports(19, 0.5))
    val err = intercept[IllegalArgumentException](Stats.percentile((1 to 39).map(_.toDouble), 0.75))
    assert(err.getMessage.contains("39 samples"))
  }

  test("nearest-rank percentile and median") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.percentile(xs, 0.9) == 90.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }
}
