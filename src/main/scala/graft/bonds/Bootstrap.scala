package graft.bonds

import java.time.LocalDate
import scala.collection.immutable.ArraySeq
import graft.core.{BrCalendar, Num}
import graft.curve.Interpolador

/** Sequential zero-curve bootstraps (D5/D6; reference
  * /root/reference/pyield/tpf/titulos/ntnb.py:391-578 and ntnf.py:342-518).
  * Inherently sequential driver loops over <= a few hundred vertices —
  * distribution would only add shuffles (SURVEY §7 risk 7).
  *
  * Both bootstraps work on epoch days and business-day counts in primitive
  * arrays; a `LocalDate` and a [[ZeroVertex]] are built only for the points
  * returned. The synthetic bond at grid point i is priced by a [[Grade]],
  * which first tries a sum that takes one `Math.log` and three `Math.exp`
  * per point instead of one `Math.pow` per flow, and certifies its trunc6
  * against the exact per-flow rounding loop (see [[Grade.cotacaoRapida]]);
  * the exact loop stays the defining path and runs whenever the fast sum
  * cannot decide.
  */
object Bootstrap {

  case class ZeroVertex(dataVencimento: LocalDate, diasUteis: Long,
                        taxaZero: Double)

  /** ANBIMA-style NTN-B bootstrap: quarterly payment grid to the last
    * maturity, flat-forward interpolation of the observed IRRs, then a
    * sequential closed-form solve per grid date:
    *   z = (VALOR_FINAL / (cotacao - PV(earlier coupons)))^(1/t) - 1.
    */
  def ntnbTaxasZero(liq: LocalDate, vencimentos: Seq[LocalDate],
                    taxas: Seq[Double],
                    incluirCupons: Boolean = false): Seq[ZeroVertex] = {
    require(vencimentos.nonEmpty && vencimentos.length == taxas.length)
    val l = liq.toEpochDay.toInt
    // the maturities' epoch days and IRRs in date order, equal dates in
    // input order (the curve keeps the last rate of a repeated du)
    val m = vencimentos.length
    val vencs = new Array[Long](m)
    val tirs = new Array[Double](m)
    val (itV, itT) = (vencimentos.iterator, taxas.iterator)
    var k = 0
    while (k < m) {
      val d = itV.next().toEpochDay
      val t = itT.next()
      var j = k
      while (j > 0 && vencs(j - 1) > d) { vencs(j) = vencs(j - 1); tirs(j) = tirs(j - 1); j -= 1 }
      vencs(j) = d; tirs(j) = t
      k += 1
    }
    val interp = curva(l, vencs, ArraySeq.unsafeWrapArray(tirs))

    // The semiannual payment dates of grid(i) are grid(i-2), grid(i-4), ...
    // (subtrairMeses keeps the day), so every schedule below reads the
    // grid by index.
    val grid = Bonds.diasPagamento(l, LocalDate.ofEpochDay(vencs(m - 1)), 3)
    val n = grid.length
    val dias = Bonds.diasUteis(l, grid)
    val grade = new Grade(dias, 2, NtnB.ValorCupom, NtnB.ValorFinal, 12)
    val zeros = new Array[Double](n)
    // PV of grid(i)'s semiannual coupons before it, at the zero rates
    // already solved: the same-parity sum of the earlier points, left to right
    val pvCupons = new Array[Double](n)

    val primeiro = vencs(0)
    var i = 0
    while (i < n) {
      if (i >= 2)
        pvCupons(i) = pvCupons(i - 2) + NtnB.ValorCupom / math.pow(1 + zeros(i - 2), dias(i - 2) / 252.0)
      val tir = interp(dias(i))
      zeros(i) =
        if (grid(i) <= primeiro) tir
        else {
          val preco = grade.cotacao(i, tir)
          math.pow(NtnB.ValorFinal / (preco - pvCupons(i)), 1 / (dias(i) / 252.0)) - 1
        }
      i += 1
    }
    vertices(grid, dias, zeros, if (incluirCupons) null else vencs)
  }

  /** PRE zero curve: LTN rates are zero by construction; after the last
    * LTN, NTN-F spots are solved sequentially against the growing zero map
    * with flat-forward interpolation at coupon dates
    * (ntnf.py:342-518, pre.py:8-125).
    */
  def ntnfTaxasZero(liq: LocalDate,
                    vencimentosLtn: Seq[LocalDate], taxasLtn: Seq[Double],
                    vencimentosNtnf: Seq[LocalDate], taxasNtnf: Seq[Double],
                    incluirCupons: Boolean = false): Seq[ZeroVertex] = {
    val l = liq.toEpochDay.toInt
    val interpLtn = curva(l, diasEpoca(vencimentosLtn), taxasLtn)
    val vencsNtnf = diasEpoca(vencimentosNtnf)
    val interpNtnf = curva(l, vencsNtnf, taxasNtnf)
    val ultimoLtn = vencimentosLtn.max.toEpochDay
    val ultimoNtnf = vencimentosNtnf.max

    // Every semiannual payment date to the last NTN-F maturity is a grid
    // point; each one past the LTN range is solved as a SYNTHETIC NTN-F
    // with its interpolated IRR (ntnf.py:440-505), whose coupons fall on
    // the earlier grid points.
    val grid = Bonds.diasPagamento(l, ultimoNtnf, 6)
    val n = grid.length
    val dias = Bonds.diasUteis(l, grid)
    val grade = new Grade(dias, 1, NtnF.ValorCupom, NtnF.ValorFinal, 9)
    val spot = new Array[Double](n)
    // PV of the coupons before grid(i) at the spot rates already solved
    val pvCupons = new Array[Double](n)

    var i = 0
    while (i < n) {
      if (i >= 1)
        pvCupons(i) = pvCupons(i - 1) + NtnF.ValorCupom / math.pow(1 + spot(i - 1), dias(i - 1) / 252.0)
      spot(i) =
        if (grid(i) <= ultimoLtn) interpLtn(dias(i))
        // reference guard (ntnf.py:486-492): no prior coupons -> null
        // vertex (NaN here), cascading into later bonds' PV sums
        else if (i == 0) Double.NaN
        else {
          val preco = grade.cotacao(i, interpNtnf(dias(i)))
          math.pow(NtnF.ValorFinal / (preco - pvCupons(i)), 1 / (dias(i) / 252.0)) - 1
        }
      i += 1
    }
    java.util.Arrays.sort(vencsNtnf)
    vertices(grid, dias, spot, if (incluirCupons) null else vencsNtnf)
  }

  private def diasEpoca(datas: Seq[LocalDate]): Array[Long] = {
    val dias = new Array[Long](datas.length)
    var i = 0
    datas.foreach { d => dias(i) = d.toEpochDay; i += 1 }
    dias
  }

  /** Flat-forward curve of `taxas` at the business days from the epoch day
    * `l` to each epoch day of `vencimentos`, in their order.
    */
  private def curva(l: Int, vencimentos: Array[Long], taxas: Seq[Double]): Interpolador = {
    val dus = new Array[Long](vencimentos.length)
    var k = 0
    while (k < dus.length) { dus(k) = BrCalendar.contar(l, vencimentos(k).toInt); k += 1 }
    new Interpolador(ArraySeq.unsafeWrapArray(dus), taxas, "flat_forward")
  }

  /** The vertices of the grid points, or, with `vencimentos` (sorted epoch
    * days), of those among them.
    */
  private def vertices(grid: Array[Long], dias: Array[Int], taxas: Array[Double],
                       vencimentos: Array[Long]): Seq[ZeroVertex] = {
    def mantido(i: Int) =
      vencimentos == null || java.util.Arrays.binarySearch(vencimentos, grid(i)) >= 0
    var n = 0
    var i = 0
    while (i < grid.length) { if (mantido(i)) n += 1; i += 1 }
    val out = new Array[ZeroVertex](n)
    n = 0
    i = 0
    while (i < grid.length) {
      if (mantido(i)) {
        out(n) = ZeroVertex(LocalDate.ofEpochDay(grid(i)), dias(i), taxas(i))
        n += 1
      }
      i += 1
    }
    ArraySeq.unsafeWrapArray(out)
  }

  /** 2^-53, the unit roundoff of a double. */
  private val Eps = math.ulp(1.0) / 2

  /** One bootstrap's grid, business days from settlement per point, and the
    * synthetic bond at grid point i: it pays `cupom` at points i - passo,
    * i - 2·passo, ... down to i % passo and `valorFinal` at i.
    *
    * Its exact price ([[cotacaoExata]]) is
    *   trunc6(Σ roundPolars(v_j / (1+t)^a_j, casas)), a_j = trunc14(du_j/252),
    * summed in payment order at the normalized rate t: one `Math.pow` per
    * flow, so O(n²) per bootstrap. [[cotacao]] returns the same double from
    * [[cotacaoRapida]] whenever that can certify it, and otherwise from the
    * exact loop.
    *
    * The gap of point j is du_j - du_{j-passo}: the business days from the
    * flow before it in any synthetic bond that pays at j. The gaps of one
    * calendar step span a short range (120 to 131 business days for six
    * months), so a call takes the discount factors of all its parity's gaps
    * from two `Math.exp` calls and one multiplication per gap in the range,
    * and the first flow's, du_j for j < passo, from a third.
    */
  private[bonds] final class Grade(dias: Array[Int], passo: Int,
                                   cupom: Double, valorFinal: Double, casas: Int) {
    private val n = dias.length
    /** trunc14(du/252) per point, for the exact loop. */
    private val anosTrunc: Array[Double] = {
      val a = new Array[Double](n)
      var j = 0
      while (j < n) { a(j) = Bonds.anosTruncados(dias(j)); j += 1 }
      a
    }
    /** Parity p (= j % passo) owns the slots of `fatores` from base(p):
      * the first flow's factor, then one per gap from menor(p) to the
      * parity's largest.
      */
    private val base = new Array[Int](passo + 1)
    private val menor = new Array[Int](passo)
    /** Per point, its slot in `fatores`. */
    private val lacuna = new Array[Int](n)
    /** The longest range of gaps of one parity, less one: the most
      * multiplications behind one factor.
      */
    private val alcance: Int = {
      var r = 0
      var p = 0
      while (p < passo) {
        var lo = Int.MaxValue
        var hi = Int.MinValue
        var j = p + passo
        while (j < n) {
          lo = math.min(lo, dias(j) - dias(j - passo))
          hi = math.max(hi, dias(j) - dias(j - passo))
          j += passo
        }
        if (lo > hi) { lo = 0; hi = -1 } // no flow after the first
        menor(p) = lo
        base(p + 1) = base(p) + 1 + (hi - lo + 1)
        r = math.max(r, hi - lo)
        j = p
        while (j < n) {
          lacuna(j) = if (j < passo) base(p) else base(p) + 1 + dias(j) - dias(j - passo) - lo
          j += passo
        }
        p += 1
      }
      r
    }
    /** Discount factor per slot at the rate of the current call. */
    private val fatores = new Array[Double](base(passo))
    /** ½·10^-casas, the largest rounding of one exact flow. */
    private val meiaCasa = 0.5 * math.pow(10, -casas)

    /** The synthetic bond's cotacao at grid point i at the rate `taxa`. */
    def cotacao(i: Int, taxa: Double): Double = {
      val t = Num.normalizarTaxa(taxa)
      val r = cotacaoRapida(i, t)
      if (r.isNaN) cotacaoExata(i, t) else r
    }

    /** trunc6 of the per-flow rounded sum at the normalized rate t. */
    private[bonds] def cotacaoExata(i: Int, t: Double): Double = {
      var soma = 0.0
      var j = i % passo
      while (j < i) {
        soma += Num.roundPolars(cupom / math.pow(1 + t, anosTrunc(j)), casas)
        j += passo
      }
      soma += Num.roundPolars(valorFinal / math.pow(1 + t, anosTrunc(i)), casas)
      Num.truncar(soma, 6)
    }

    /** [[cotacaoExata]]`(i, t)`, or NaN when this sum cannot certify it.
      *
      * It sums S = Σ v_j·d_j in payment order, without rounding the flows,
      * where d_j = d_{j-passo}·e_g for the gap g of point j, d = 1 before
      * the first flow, λ = fl(log(b)) and b = fl(1 + t) (the base
      * `Math.pow` sees in the exact loop). Three factors come from
      * `Math.exp(-fl(fl(g·λ)/252))`: the first flow's (g = du_p), the
      * range's first (g = menor(p)) and `um` (g = 1); the factor of gap
      * menor(p) + k is the range's first times `um`, k times. With
      * k = floor(S·10^6), it returns k/10^6 when S is farther than a margin
      * M from every multiple of 10^-6, and M bounds |S - X| for the exact
      * unrounded sum X, as follows. Let ε = 2^-53, n the number of flows,
      * c = `casas`, A = du_i/252 the longest year fraction, L = |ln b| and
      * R = `alcance`; the call first requires L·A <= 50, so every discount
      * factor, flow and product below is a normal double (and NaN,
      * t <= -1 and t = ∞ fail that test). Let R' = Σ v_j·b^(-a_j) (real
      * arithmetic, a_j the trunc14 doubles) and D = Σ v_j·b^(-du_j/252).
      *   - Exact loop. `Math.pow` is within 1 ulp (relative 2ε) and the
      *     division adds ε: each x_j is within 3.01ε·x_j of v_j·b^(-a_j).
      *     `roundPolars` moves x_j by at most ½·10^-c (the `rint`) plus
      *     2.01ε·x_j (the scaling and unscaling roundings). The n - 1
      *     additions of positive terms each err by at most ε times the
      *     total. So |X - R'| <= n·½·10^-c + (5.02 + n)·ε·R'.
      *   - Fast sum. λ is within 1 ulp (2ε relative) of ln b; g·λ and /252
      *     add ε each, so fl(fl(g·λ)/252) is within 4.01ε·g·L/252 of
      *     g·ln(b)/252, and with `Math.exp`'s 1 ulp each of the three
      *     exponentials is within 2.01ε + 4.02ε·g·L/252 of its real value
      *     (relative). k multiplications by `um` add k·(2.01ε + 4.02ε·L/252)
      *     and k roundings, so the factor of gap g is within
      *     2.01ε + 4.02ε·g·L/252 + 3.01R·ε. A chain of at most n factors and
      *     n roundings of the product puts d_j within
      *     (3.01 + 3.01R)·n·ε + 4.02ε·A·L of b^(-du_j/252), since the gaps
      *     of one bond sum to du_j <= du_i. The product v_j·d_j adds ε and
      *     the n additions nε of the total:
      *     |S - D| <= (4.02n + 3.01nR + 1 + 4.02A·L)·ε·D.
      *   - Year fractions. du/252 is rounded once (ε), `Double.toString`
      *     moves it by at most ½ ulp, trunc14 by less than 10^-14 and the
      *     decimal's double by ½ ulp: |a_j - du_j/252| < 10^-14 + 3.01ε·A,
      *     so |R' - D| <= 1.01·L·(10^-14 + 3.01ε·A)·D.
      *   - trunc6 reads X's shortest decimal, within ½ ulp (ε) of X, and
      *     the test below reads fl(S·10^6), within ε relative of S·10^6.
      * R', D and X are within 10^-12 relative (plus the absolute n·½·10^-c)
      * of S, so every ε-term above is at most 1.01 times its value at S,
      * and together they are below
      *   B = n·½·10^-c + S·(ε·(6n + 9 + 8A·L + 4nR) + 1.1·10^-14·L).
      * M = 2B: a safety factor of 2 over the bound. When S·10^6 >= 2^52
      * the call declines too. Otherwise, if fl(S·10^6)'s fractional part
      * is farther than M·10^6 from 0 and from 1, no multiple of 10^-6 lies
      * between S and X's decimal, so that decimal truncates to the same k
      * and `Num.truncar` returns k/10^6, the quotient of two exact doubles
      * correctly rounded, as here. The flows' rounding dominates B: the
      * NTN-B margin (c = 12, S about 1) is at most 6·10^-11 and the NTN-F
      * one (c = 9) at most 2.5·10^-8, so about one NTN-B point in 10^4 and
      * a few NTN-F points in 100 fall back.
      */
    private[bonds] def cotacaoRapida(i: Int, t: Double): Double = {
      val ln = math.log(1 + t)
      val aL = math.abs(ln) * (dias(i) / 252.0)
      if (!(aL <= 50)) return Double.NaN
      val fluxos = i / passo + 1
      val p = i - (fluxos - 1) * passo
      fatores(base(p)) = math.exp(-(dias(p) * ln / 252))
      if (i >= passo) {
        val um = math.exp(-(ln / 252))
        var f = math.exp(-(menor(p) * ln / 252))
        var k = base(p) + 1
        while (k < base(p + 1)) { fatores(k) = f; f *= um; k += 1 }
      }
      var fator = 1.0
      var soma = 0.0
      var j = p
      while (j < i) {
        fator *= fatores(lacuna(j))
        soma += cupom * fator
        j += passo
      }
      fator *= fatores(lacuna(i))
      soma += valorFinal * fator
      val y = soma * 1e6
      if (!(y < 4503599627370496.0)) return Double.NaN // 2^52
      val margem = 2e6 * (fluxos * meiaCasa +
        soma * (Eps * (6 * fluxos + 9 + 8 * aL + 4 * fluxos * alcance) + 1.1e-14 * math.abs(ln)))
      val k = math.floor(y)
      val frac = y - k
      if (frac > margem && 1 - frac > margem) k / 1e6 else Double.NaN
    }
  }
}
