package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Expected values are Python's `statistics.median` and
  * `statistics.quantiles(xs, n=4)`, which `steady.py` uses.
  */
class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts, in any order") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("quartiles match Python's exclusive method") {
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
    assert(Stats.quartiles(Seq(5.0, 1.0, 4.0, 2.0, 3.0)) == ((1.5, 3.0, 4.5)))
    assert(Stats.quartiles(Seq(3.0, 1.0)) == ((0.5, 2.0, 3.5)))
    assert(Stats.quartiles(Seq(2.0, 9.0, 4.0, 7.0)) == ((2.5, 5.5, 8.5)))
  }
}
