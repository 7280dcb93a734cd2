package pbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  private val oneToTen = (1 to 10).map(_.toDouble).reverse

  test("percentiles interpolate between the nearest ranks") {
    assert(Stats.percentile(oneToTen, 50) == 5.5)
    assert(math.abs(Stats.percentile(oneToTen, 90) - 9.1) < 1e-12)
    assert(math.abs(Stats.percentile(oneToTen, 99) - 9.91) < 1e-12)
    assert(Stats.percentile(oneToTen, 100) == 10.0)
    assert(Stats.percentile(oneToTen, 0) == 1.0)
    assert(Stats.percentile(Seq(3.5), 99) == 3.5)
    assert(Stats.median(Seq(2.0, 1.0, 3.0)) == 2.0)
  }

  test("an exact rank needs no interpolation") {
    val xs = (0 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 99) == 99.0)
    assert(Stats.position(101, 50) == 50.0)
  }

  test("sample counts beyond a percentile") {
    assert(Stats.beyond(1001, 99) == 10)
    assert(Stats.beyond(25000, 99) == 250)
    assert(Stats.beyond(32, 90) == 4)
    assert(Stats.beyond(32, 50) == 16)
    assert(Stats.beyond(1, 50) == 0)
    assert(Stats.counts(32) == Map("samples" -> 32, "beyond_p50" -> 16, "beyond_p90" -> 4, "beyond_p99" -> 1))
    assert(Stats.counts(0) == Map("samples" -> 0))
  }

  test("empty samples and out-of-range percentiles are rejected") {
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
    assertThrows[IllegalArgumentException](Stats.position(10, -1))
    assertThrows[IllegalArgumentException](Stats.position(10, 101))
  }
}
