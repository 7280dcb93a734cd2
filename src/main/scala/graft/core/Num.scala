package graft.core

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

/** Numeric helpers matching the reference's STN conventions.
  *
  * `truncar` is truncation toward zero at d decimal places operating on the
  * double's shortest decimal representation (so 8.2 truncated at 3 stays 8.2)
  * — the oracle is /root/reference/pyield/_internal/numbers.py:15-45 and the
  * STN goldens pinned in the bond-pricing doctests
  * (e.g. /root/reference/pyield/tpf/titulos/ltn.py:135-155).
  */
object Num {

  /** Exact powers of ten, 10^0 .. 10^15 (each below 2^53). */
  private val Pow10: Array[Double] = Array(
    1e0, 1e1, 1e2, 1e3, 1e4, 1e5, 1e6, 1e7,
    1e8, 1e9, 1e10, 1e11, 1e12, 1e13, 1e14, 1e15)

  /** Truncation toward zero at `decimals` places of the decimal string
    * `Double.toString(x)`; NaN and infinities pass through.
    *
    * The result always equals
    * `BigDecimal.valueOf(x).setScale(decimals, DOWN).doubleValue()`. When
    * `0 <= decimals <= 15` a double-only path computes it, and it is exact:
    *   - Let X = |x|, P = 10^decimals (exact), S the decimal value of
    *     `Double.toString(X)` and y = fl(X·P). S rounds back to X, so
    *     |S - X| <= ulp(X)/2, hence |S·P - X·P| <= P·ulp(X)/2 < ulp(y)
    *     (P·ulp(X) < 2·ulp(X·P) for normal X); and |y - X·P| <= ulp(y)/2.
    *     So |S·P - y| < 1.5·ulp(y). For subnormal X both S·P and y are far
    *     below 1, and k = 0 below.
    *   - The BigDecimal path returns k'/P rounded once to a double, with
    *     k' = floor(S·P). If y < 2^52 and y's fractional part is at least
    *     2·ulp(y) from both 0 and 1, no integer lies between S·P and y, so
    *     k' = k = floor(y), an exact integer below 2^52.
    *   - k and P are exact doubles, so k / P is the correctly rounded
    *     quotient, the same double BigDecimal's `doubleValue` gives for
    *     k'/P. The sign is applied after (rounding is symmetric), except
    *     that a zero result is +0.0, as BigDecimal has no negative zero.
    * Inputs outside those bounds (integral or near-integral y, y >= 2^52,
    * zero, `decimals` outside 0..15) take the BigDecimal path only.
    */
  def truncar(x: Double, decimals: Int): Double = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return x
    if (decimals >= 0 && decimals <= 15) {
      val p = Pow10(decimals)
      val y = math.abs(x) * p
      if (y < 4503599627370496.0) { // 2^52
        val k = math.floor(y)
        val frac = y - k // exact: k <= y < 2k, or k = 0
        val margem = 2 * math.ulp(y)
        if (frac >= margem && frac <= 1 - margem)
          return if (k == 0) 0.0 else if (x < 0) -(k / p) else k / p
      }
    }
    // JBigDecimal.valueOf goes through Double.toString.
    JBigDecimal.valueOf(x).setScale(decimals, RoundingMode.DOWN).doubleValue()
  }

  /** Round-half-to-even at d places on the EXACT binary value of the
    * double — the semantics of Python's round() and of Polars/Rust
    * round_ties_even, which the reference uses for the PV rounding steps
    * (e.g. 12 dp at ntnb.py:311). Note the deliberate asymmetry with
    * [[truncar]], which operates on the shortest decimal representation.
    */
  def roundHalfEven(x: Double, decimals: Int): Double = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return x
    new JBigDecimal(x).setScale(decimals, RoundingMode.HALF_EVEN).doubleValue()
  }

  /** Polars/Rust-style round: scale by 10^d in double arithmetic, round
    * ties-to-even (Math.rint), scale back. Differs from [[roundHalfEven]]
    * exactly at tie edges where the scaling multiply itself rounds (e.g.
    * 470198680.075*100 -> 47019868007.5 exactly -> ties-even up, while the
    * exact binary value sits below the tie). The reference's Series.round
    * calls follow THIS semantic; Python's round() follows roundHalfEven.
    */
  def roundPolars(x: Double, decimals: Int): Double = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return x
    val p = if (decimals >= 0 && decimals <= 15) Pow10(decimals)
            else math.pow(10.0, decimals)
    Math.rint(x * p) / p
  }

  /** STN rate normalization: truncate the decimal rate at 8 places
    * (6 places in percent terms) — reference
    * /root/reference/pyield/tpf/titulos/_utils.py:195-197.
    */
  def normalizarTaxa(taxa: Double): Double = truncar(taxa, 8)
}
