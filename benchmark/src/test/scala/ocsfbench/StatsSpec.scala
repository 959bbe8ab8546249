package ocsfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("Harrell-Davis quantiles: symmetric data, bounds, and a reference value") {
    val xs = (1 to 9).map(_.toDouble)
    assert(math.abs(Stats.hdQuantile(xs, 0.5) - 5.0) < 1e-9)
    val q75 = Stats.hdQuantile(xs, 0.75)
    assert(q75 > Stats.quantile(xs, 0.5) && q75 < xs.max)
    // reference from an independent implementation of the estimator
    val ys = Seq(2.9, 3.1, 3.4, 2.7, 5.2, 3.0, 3.3, 2.8)
    assert(math.abs(Stats.hdQuantile(ys, 0.75) - 3.66376) < 1e-4, Stats.hdQuantile(ys, 0.75))
  }

  test("linear quantiles interpolate between order statistics") {
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5)
    assert(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.75) == 3.25)
  }
}
