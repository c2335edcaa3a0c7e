package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("percentile interpolates between closest ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(math.abs(Stats.percentile((1 to 11).map(_.toDouble), 90) - 10.0) < 1e-12)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
  }

  test("percentile rejects empty samples and out-of-range ranks") {
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }

  test("a tail percentile needs ten samples beyond it") {
    assert(!Stats.hasTail(99, 90))
    assert(Stats.hasTail(100, 90))
    assert(!Stats.hasTail(999, 99))
    assert(Stats.hasTail(1000, 99))
  }
}
