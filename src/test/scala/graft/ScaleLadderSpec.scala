package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Ladder

/** Pins the ladder's least-squares fit — the arithmetic the
  * SCALE_LADDER.json verdicts hang on.
  */
class ScaleLadderSpec extends AnyFunSuite {

  test("fitLinear recovers an exact line") {
    // t = 2.0 + 0.5 n
    val pts = Seq(1 -> 2.5, 10 -> 7.0, 30 -> 17.0)
    val (c, a) = Ladder.fitLinear(pts)
    assert(math.abs(c - 2.0) < 1e-9)
    assert(math.abs(a - 0.5) < 1e-9)
  }

  test("fitLinear is the least-squares compromise on noisy points") {
    // symmetric +/- noise around t = 1 + n at the two outer points of an
    // evenly influential design: the fit must split the difference, not
    // chase either endpoint
    val pts = Seq(1 -> 2.0, 10 -> 11.3, 19 -> 19.7)
    val (c, a) = Ladder.fitLinear(pts)
    // analytic LSQ on these three points
    assert(math.abs(a - 0.9833333333) < 1e-6)
    assert(math.abs(c - 1.1666666667) < 1e-6)
    // prediction at n=100 uses the damped slope
    assert(math.abs((c + 100 * a) - 99.5) < 0.01)
  }

  test("a quadratic term shows up as measured >> predicted at x100") {
    // t = 1 + 0.1 n + 0.001 n^2: invisible at x30 (0.9 of 4.9 s), but
    // the x100 measurement lands ~1.49x the linear fit's prediction —
    // the exact separation the ladder's verdict encodes
    def t(n: Int): Double = 1.0 + 0.1 * n + 0.001 * n * n
    val (c, a) = Ladder.fitLinear(Seq(1, 10, 30).map(n => n -> t(n)))
    val ratio = t(100) / (c + a * 100)
    assert(ratio > 1.4 && ratio < 1.7, s"ratio=$ratio")
  }
}
