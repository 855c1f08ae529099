package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median and quartiles interpolate between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(Stats.quantile(xs, 0.25) == 1.75)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("a summary carries its sample count") {
    val s = Stats.summary(Seq(3.0, 1.0, 2.0))
    assert(s.n == 3)
    assert(s.median == 2.0)
    assert(s.fields.toMap.apply("n") == 3)
  }
}
