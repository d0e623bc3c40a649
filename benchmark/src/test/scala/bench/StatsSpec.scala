package bench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("tail keeps ten samples beyond the reported percentile") {
    val xs = (1 to 30).map(_.toDouble)
    val (pct, v) = Stats.tail(xs)
    assert(v == 20.0)
    assert(xs.count(_ > v) == 10)
    assert(math.abs(pct - 200.0 / 3) < 1e-9)
    // 122 samples with 12 required beyond: the 110th value, at p90.2
    val q = (1 to 122).map(_.toDouble)
    assert(Stats.tail(q, beyond = 12) == ((100.0 * 110 / 122, 110.0)))
  }

  test("tail falls back to the maximum below 2 * beyond + 1 samples") {
    assert(Stats.tail((1 to 20).map(_.toDouble)) == ((100.0, 20.0)))
    assert(Stats.tail((1 to 21).map(_.toDouble)) == ((100.0 * 11 / 21, 11.0)))
  }
}
