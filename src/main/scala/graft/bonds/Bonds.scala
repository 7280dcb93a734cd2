package graft.bonds

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.time.{LocalDate, Month, Year}
import graft.core.{BrCalendar, Num}

/** STN-exact bond math: cash-flow schedules, present value, root finding
  * and pricing for the LTN / NTN-F / NTN-B / NTN-C / LFT families.
  *
  * These are driver-side scalar operators (curves and flow schedules are
  * tiny); the distributed path wraps them as row-wise UDFs in
  * [[BondColumns]], mirroring the reference's struct.map_elements usage
  * (/root/reference/pyield/tpf/titulos/_utils.py:168-186).
  *
  * Truncation/rounding chains follow the STN methodology exactly as pinned
  * by the reference doctests:
  *   - rates normalized by truncation at 8 decimals (_utils.py:195-197)
  *   - year fractions truncated at 14 decimals
  *   - per-flow PVs rounded (12 dp NTN-B, 9 dp NTN-F)
  *   - prices/quotes truncated at 6 decimals
  *
  * Everything in a price that does not depend on the rate (the payment
  * days' business-day counts, hence their year fractions) is built once per
  * call into a [[Cronograma]]; `taxa`, `dv01` and the other multi-rate
  * functions evaluate that one schedule at every rate, and the root solves
  * never rebuild it. trunc14(du/252) is read from a table built once.
  *
  * The rate solves of NTN-F, NTN-B and LFT run [[encontrarRaiz]] on their
  * `f(t) = price(t) - pu0` behind an [[OraculoMonotono]], which returns a
  * stand-in sign instead of evaluating f where monotonicity already fixes
  * it; the result is the same double, with about 3.5 evaluations of f
  * instead of 22-28.
  */
object Bonds {

  // ------------------------------------------------------------- schedules

  /** Subtract months preserving the day (reference _utils.py:133-138). */
  def subtrairMeses(data: LocalDate, meses: Int): LocalDate =
    LocalDate.ofEpochDay(
      diaMesesAntes(data.getYear, data.getMonthValue, data.getDayOfMonth, meses))

  /** Epoch day of the date `meses` months before (ano, mes, dia), keeping
    * the day: `LocalDate.of(...).toEpochDay` without the LocalDate. A day
    * past the target month's end throws as `LocalDate.of` does.
    */
  private def diaMesesAntes(ano: Int, mes: Int, dia: Int, meses: Int): Long = {
    val k = ano * 12L + (mes - 1) - meses
    val y = Math.floorDiv(k, 12L)
    val m = Math.floorMod(k, 12L).toInt + 1
    val bissexto = Year.isLeap(y)
    if (dia > 28 && dia > Month.of(m).length(bissexto))
      LocalDate.of(y.toInt, m, dia) // throws DateTimeException
    // LocalDate.toEpochDay's formula
    var total = 365 * y + dia - 1 + (367 * m - 362) / 12
    total += (if (y >= 0) (y + 3) / 4 - (y + 99) / 100 + (y + 399) / 400
              else -(y / -4 - y / -100 + y / -400))
    if (m > 2) total -= (if (bissexto) 1 else 2)
    total - 719528 // days from 0000-01-01 to 1970-01-01
  }

  /** Epoch day of payment k, counted back from the maturity `fim`. */
  private def diaPagamento(fim: LocalDate, intervaloMeses: Int, k: Int): Long =
    diaMesesAntes(fim.getYear, fim.getMonthValue, fim.getDayOfMonth, intervaloMeses * k)

  /** Number of payment dates after the epoch day `inicio`. Like the
    * reference's loop, it also builds the first date on or before `inicio`,
    * so a day past that month's end throws there too.
    */
  private def contarPagamentos(inicio: Long, fim: LocalDate, intervaloMeses: Int): Int = {
    var n = 0
    while (diaPagamento(fim, intervaloMeses, n) > inicio) n += 1
    n
  }

  /** Payment dates between start (exclusive) and end (inclusive), stepping
    * back `intervaloMeses` months from the maturity
    * (reference _utils.py:141-165).
    */
  def gerarDatasPagamento(inicio: LocalDate, fim: LocalDate,
                          intervaloMeses: Int = 6): Seq[LocalDate] = {
    require(intervaloMeses > 0)
    diasPagamento(inicio.toEpochDay, fim, intervaloMeses).toIndexedSeq.map(LocalDate.ofEpochDay)
  }

  /** Epoch days of the payment dates of [[gerarDatasPagamento]], in date
    * order.
    */
  private[bonds] def diasPagamento(inicio: Long, fim: LocalDate, intervaloMeses: Int): Array[Long] = {
    val n = contarPagamentos(inicio, fim, intervaloMeses)
    val dias = new Array[Long](n)
    var i = 0
    while (i < n) { dias(i) = diaPagamento(fim, intervaloMeses, n - 1 - i); i += 1 }
    dias
  }

  /** Business days from the epoch day `liq` to each epoch day of `dias`. */
  private[bonds] def diasUteis(liq: Long, dias: Array[Long]): Array[Int] = {
    val du = new Array[Int](dias.length)
    var i = 0
    while (i < du.length) { du(i) = BrCalendar.contar(liq.toInt, dias(i).toInt).toInt; i += 1 }
    du
  }

  /** (paymentDate, amount) flows of the semiannual schedule: coupon every
    * semester, principal+coupon at maturity.
    */
  private[bonds] def fluxos(liquidacao: LocalDate, vencimento: LocalDate,
                            valorCupom: Double, valorFinal: Double): Seq[(LocalDate, Double)] =
    gerarDatasPagamento(liquidacao, vencimento).map(d =>
      d -> (if (d == vencimento) valorFinal else valorCupom))

  /** The semiannual schedule as business days from settlement to each
    * payment, in payment order.
    */
  private[bonds] def cronograma(liquidacao: LocalDate, vencimento: LocalDate,
                                valorCupom: Double, valorFinal: Double): Cronograma = {
    val liq = liquidacao.toEpochDay
    new Cronograma(diasUteis(liq, diasPagamento(liq, vencimento, 6)), valorCupom, valorFinal)
  }

  // ---------------------------------------------------------- PV and roots

  /** Strict present value: Σ CF/(1+r)^t; NaN if any element is NaN, 0.0 for
    * empty inputs (reference _utils.py:200-259).
    */
  def calcularPv(fluxos: Seq[Double], taxas: Seq[Double],
                 prazos: Seq[Double]): Double = {
    require(fluxos.length == taxas.length && taxas.length == prazos.length)
    if (fluxos.isEmpty) return 0.0
    var sum = 0.0
    var i = 0
    while (i < fluxos.length) {
      val vp = fluxos(i) / math.pow(1 + taxas(i), prazos(i))
      if (vp.isNaN) return Double.NaN
      sum += vp
      i += 1
    }
    sum
  }

  /** Tolerance of [[encontrarRaiz]]: |f| below it is a root. */
  private[bonds] val Tol = 1e-12

  /** Bracket search (growth 1.6, rate in [-1, 10]) + bisection
    * (tol 1e-12, 100 iters) — reference _utils.py:262-348.
    *
    * The result depends on f only through four tests: `|f0| == 0`,
    * `fa*fb < 0`, `|fm| < Tol` and `fm*flo < 0`. Every point it evaluates
    * lies in [-1, 10].
    */
  def encontrarRaiz(f: Double => Double): Double = {
    val taxaInicial = 0.01
    val passo = 0.01
    val fator = 1.6
    val maxTent = 100
    val (taxaMin, taxaMax) = (-1.0, 10.0)

    val f0 = f(taxaInicial)
    if (math.abs(f0) == 0) return taxaInicial

    var interval: Option[(Double, Double)] = None
    var a = taxaInicial; var fa = f0
    var b = taxaInicial + passo
    var passoAtual = passo
    var i = 0
    while (interval.isEmpty && i < maxTent && b <= taxaMax) {
      val fb = f(b)
      if (fa * fb < 0) interval = Some((a, b))
      else { a = b; fa = fb; passoAtual *= fator; b += passoAtual }
      i += 1
    }
    if (interval.isEmpty) {
      a = taxaInicial; fa = f0
      b = taxaInicial - passo
      passoAtual = passo
      i = 0
      while (interval.isEmpty && i < maxTent && b >= taxaMin) {
        val fb = f(b)
        if (fa * fb < 0) interval = Some((b, a))
        else { a = b; fa = fb; passoAtual *= fator; b -= passoAtual }
        i += 1
      }
    }

    interval match {
      case None => Double.NaN
      case Some((lo0, hi0)) =>
        var lo = lo0; var hi = hi0
        var flo = f(lo)
        var it = 0
        var res = Double.NaN
        while (it < 100 && res.isNaN) {
          val mid = (lo + hi) / 2
          val fm = f(mid)
          if (math.abs(fm) < Tol || (hi - lo) / 2 < Tol) res = mid
          else if (fm * flo < 0) hi = mid
          else { lo = mid; flo = fm }
          it += 1
        }
        if (res.isNaN) (lo + hi) / 2 else res
    }
  }

  /** trunc6(vna6 * trunc6(cot)) for a VNA already truncated at 6 places and
    * a quote `cot` that is itself a trunc6 result: the rate-dependent step of
    * the NTN-B and LFT solves. Every such quote in [0, 10] is k/10^6 for an
    * integer k and is its own trunc6 (`TruncarSpec` checks all 10^7 + 1),
    * so only larger quotes are truncated again.
    */
  private[bonds] def puVna6(vna6: Double, cot: Double): Double =
    Num.truncar(vna6 * (if (cot <= 10) cot else Num.truncar(cot, 6)), 6)

  /** trunc14(du/252) for every du in 0 until `Anos14.length`: the business
    * days between the ends of BrCalendar's tables, about 110 years. Built
    * once through BigDecimal, `Num.truncar`'s defining path.
    */
  private[graft] val Anos14: Array[Double] = Array.tabulate(
    BrCalendar.contar(BrCalendar.InicioTabela, BrCalendar.FimTabela).toInt + 1)(du =>
    JBigDecimal.valueOf(du / 252.0).setScale(14, RoundingMode.DOWN).doubleValue())

  /** Truncated year fraction trunc14(du/252). */
  def anosTruncados(du: Long): Double =
    if (du >= 0 && du < Anos14.length) Anos14(du.toInt) else Num.truncar(du / 252.0, 14)

  /** Truncated year fraction trunc14(du/252). */
  def anosTruncados(liq: LocalDate, venc: LocalDate): Double =
    anosTruncados(BrCalendar.contar(liq, venc))
}

/** A rate solve's `f(t) = price(t) - pu0` behind a sign oracle, for
  * [[Bonds.encontrarRaiz]].
  *
  * Monotonicity. On t >= -1, with positive flows, year fractions a >= 0
  * (payments after settlement) and trunc6(vna) > 0, f is non-increasing
  * in t: the price is a composition of monotone steps.
  *   - `Num.truncar` (the rate's trunc8, the year fractions' trunc14, the
  *     quotes' and PU's trunc6) is monotone: `Double.toString` is strictly
  *     increasing, truncation of a decimal toward zero is non-decreasing,
  *     and so is rounding the result to a double.
  *   - 1 + t, then `Math.pow(1 + t, a)` for a fixed a >= 0 and base >= 0:
  *     floating-point addition is monotone and `Math.pow` is specified
  *     semi-monotonic. A positive flow divided by it is non-increasing.
  *   - `Num.roundPolars` (scale, `Math.rint`, unscale), the sum of the
  *     flows, the positive scaling by trunc6(vna) and the final `- pu0` are
  *     monotone floating-point operations.
  *
  * The oracle. It keeps p, the largest point evaluated with f(p) >= Tol,
  * and q, the smallest with f(q) <= -Tol. At t <= p it returns +1 and at
  * t >= q it returns -1, without evaluating f: there the real value has
  * the same sign and |f| >= Tol, as encontrarRaiz and [[sondar]] ask only
  * for points in [-1, 10]. Any other point is evaluated, and a NaN is
  * never recorded. encontrarRaiz reads f only through `|f0| == 0`,
  * `fa*fb < 0`, `|fm| < Tol` and `fm*flo < 0`, and a stand-in takes the
  * same branch of each as the real value would. For the products this
  * needs the other factor, if nonzero, not to underflow to zero against a
  * real value of at least Tol: f is 0 or a difference of two doubles, a
  * trunc6 price (0 or >= 10^-6) and pu0; when pu0 is at least
  * `Double.MinPositiveNormal`, such a difference is 0 or at least
  * `MinPositiveNormal` in magnitude. So the solve returns the same double
  * as encontrarRaiz(f).
  *
  * Domain. The oracle infers nothing (it evaluates every point, as
  * encontrarRaiz(f) would) unless pu0 is a finite double of at least
  * `Double.MinPositiveNormal` and trunc6(vna) > 0: outside it a product of
  * two real values could underflow, or f could increase with t.
  *
  * Seeds only affect speed: before the solve, [[sondar]] evaluates f around
  * a guess of the root so that p and q sit on either side of it.
  */
private[bonds] final class OraculoMonotono(f: Double => Double, pu0: Double, vna6: Double)
    extends (Double => Double) {

  private val infere = pu0 >= java.lang.Double.MIN_NORMAL &&
    pu0 <= Double.MaxValue && vna6 > 0
  private var p = Double.NegativeInfinity
  private var q = Double.PositiveInfinity

  def apply(t: Double): Double =
    if (t <= p) 1.0
    else if (t >= q) -1.0
    else {
      val v = f(t)
      if (infere) {
        if (v >= Bonds.Tol) p = t
        else if (v <= -Bonds.Tol) q = t
      }
      v
    }

  /** Evaluates f at chute - h and chute + h, with
    * h = max(1e-8, 1e-6/|inclinacao|) for the slope of the price that is
    * truncated at 6 places, and multiplies h by 4 until both signs are known
    * or the probes leave [-1, 10]. A guess or slope that is NaN or out of
    * range probes nothing.
    */
  def sondar(chute: Double, inclinacao: Double): Unit = {
    var h = math.max(1e-8, 1e-6 / math.abs(inclinacao))
    if (!(infere && chute >= -1 && chute <= 10 && h <= 11)) return
    var abaixo, acima = true
    while (abaixo || acima) {
      abaixo = p == Double.NegativeInfinity && chute - h >= -1
      acima = q == Double.PositiveInfinity && chute + h <= 10
      if (abaixo) apply(chute - h)
      if (acima) apply(chute + h)
      h *= 4
    }
  }
}

/** One bond's cash-flow schedule from one settlement date, in payment
  * order: each payment's business days from settlement, a coupon per
  * payment and the final amount at the last. Nothing in it depends on the
  * rate, so a call builds it once and evaluates it at as many rates as it
  * needs.
  */
private[bonds] final class Cronograma(dus: Array[Int], cupom: Double, valorFinal: Double) {

  @inline private def valor(i: Int): Double =
    if (i == dus.length - 1) valorFinal else cupom

  /** trunc6(Σ roundPolars(v/(1+t)^trunc14(du/252), casas)) at the
    * normalized rate t, summed in payment order; NaN with no flows.
    */
  def cotacao(taxa0: Double, casas: Int): Double = {
    if (dus.isEmpty) return Double.NaN
    val t = Num.normalizarTaxa(taxa0)
    var soma = 0.0
    var i = 0
    while (i < dus.length) {
      soma += Num.roundPolars(valor(i) / math.pow(1 + t, Bonds.anosTruncados(dus(i))), casas)
      i += 1
    }
    Num.truncar(soma, 6)
  }

  /** Raw Macaulay duration on du/252 at the rate as given; NaN with no
    * flows.
    */
  def duration(taxa: Double): Double = {
    if (dus.isEmpty) return Double.NaN
    var somaVp = 0.0
    var somaVpAnos = 0.0
    var i = 0
    while (i < dus.length) {
      val anos = dus(i) / 252.0
      val vp = valor(i) / math.pow(1 + taxa, anos)
      somaVp += vp
      somaVpAnos += vp * anos
      i += 1
    }
    somaVpAnos / somaVp
  }

  /** Seeds `o` for the rate at which the untruncated price
    * P(t) = Σ v/(1+t)^trunc14(du/252) equals `alvo`: Newton on ln P in
    * u = ln(1+t), where ln P is convex and decreasing, so the iteration
    * converges from any start when the root exists; then `o.sondar` around
    * it with the slope |dP/dt|.
    */
  def semear(o: OraculoMonotono, alvo: Double): Unit = {
    var u = 0.1
    var passo = 1.0
    var soma = 0.0    // P
    var somaAnos = 0.0 // -dP/du
    var it = 0
    while (it < 30 && math.abs(passo) > 1e-10) {
      soma = 0.0
      somaAnos = 0.0
      var i = 0
      while (i < dus.length) {
        val a = Bonds.anosTruncados(dus(i))
        val vp = valor(i) * math.exp(-a * u)
        soma += vp
        somaAnos += a * vp
        i += 1
      }
      passo = (math.log(soma) - math.log(alvo)) * soma / somaAnos
      u += passo
      it += 1
    }
    val chute = math.expm1(u)
    o.sondar(chute, somaAnos / (1 + chute))
  }
}

/** LTN: zero-coupon, face 1000 (reference ltn.py). */
object Ltn {
  val ValorFace = 1000.0

  /** PU = trunc6(1000/(1+r)^trunc14(du/252)); golden ltn.py:135-142. */
  def pu(liq: LocalDate, venc: LocalDate, taxa: Double): Double = {
    val t = Num.normalizarTaxa(taxa)
    val anos = Bonds.anosTruncados(liq, venc)
    Num.truncar(ValorFace / math.pow(1 + t, anos), 6)
  }

  /** Algebraic inverse: trunc8((1000/pu)^(1/anos) - 1); ltn.py:158-197. */
  def taxa(liq: LocalDate, venc: LocalDate, precoUnitario: Double): Double = {
    if (precoUnitario <= 0) return Double.NaN
    val anos = Bonds.anosTruncados(liq, venc)
    Num.truncar(math.pow(ValorFace / precoUnitario, 1 / anos) - 1, 8)
  }

  /** Macaulay duration of a zero = year fraction to maturity. */
  def duration(liq: LocalDate, venc: LocalDate): Double =
    BrCalendar.contar(liq, venc) / 252.0

  /** DV01 via 1bp reprice of the truncated PU; ltn.py:251-290. */
  def dv01(liq: LocalDate, venc: LocalDate, taxa0: Double, pu0: Double): Double = {
    val t = Num.normalizarTaxa(taxa0)
    val t1 = Num.roundHalfEven(t + 0.0001, 8)
    val anos = Bonds.anosTruncados(liq, venc)
    val p1 = Num.truncar(ValorFace / math.pow(1 + t, anos), 6)
    val p2 = Num.truncar(ValorFace / math.pow(1 + t1, anos), 6)
    pu0 * (1 - p2 / p1)
  }
}

/** NTN-F: 10% a.a. semiannual coupon, face 1000 (reference ntnf.py). */
object NtnF {
  val ValorFace = 1000.0
  val ValorCupom = 48.80885       // round(1000*((1.10)^0.5 - 1), 5)
  val ValorFinal = 1048.80885

  private def cronograma(liq: LocalDate, venc: LocalDate): Cronograma =
    Bonds.cronograma(liq, venc, ValorCupom, ValorFinal)

  def fluxosCaixa(liq: LocalDate, venc: LocalDate): Seq[(LocalDate, Double)] =
    Bonds.fluxos(liq, venc, ValorCupom, ValorFinal)

  /** PU: per-flow PV rounded 9dp, sum truncated 6dp; ntnf.py:285-339. */
  def pu(liq: LocalDate, venc: LocalDate, taxa0: Double): Double =
    cronograma(liq, venc).cotacao(taxa0, 9)

  /** TIR via bracket+bisection, truncated 8dp; ntnf.py:979-1018. The
    * solve runs behind a sign oracle seeded at the untruncated root.
    */
  def taxa(liq: LocalDate, venc: LocalDate, pu0: Double): Double = {
    if (pu0 <= 0) return Double.NaN
    val c = cronograma(liq, venc)
    val o = new OraculoMonotono(t => c.cotacao(t, 9) - pu0, pu0, 1.0)
    c.semear(o, pu0)
    Num.truncar(Bonds.encontrarRaiz(o), 8)
  }

  /** Macaulay duration — returned RAW (ntnf.py:867 has no truncar,
    * unlike NTN-B's trunc14 at ntnb.py:747).
    */
  def duration(liq: LocalDate, venc: LocalDate, taxa0: Double): Double =
    cronograma(liq, venc).duration(taxa0)

  def dv01(liq: LocalDate, venc: LocalDate, taxa0: Double, pu0: Double): Double = {
    val t = Num.normalizarTaxa(taxa0)
    val t1 = Num.roundHalfEven(t + 0.0001, 8)
    val c = cronograma(liq, venc)
    val p1 = c.cotacao(t, 9)
    val p2 = c.cotacao(t1, 9)
    pu0 * (1 - p2 / p1)
  }
}

/** NTN-B: IPCA-linked, 6% a.a. semiannual coupon in base-1 quotation
  * (reference ntnb.py).
  */
object NtnB {
  val ValorCupom = 0.02956301     // round((1.06)^0.5 - 1, 8)
  val ValorFinal = 1.02956301

  private def cronograma(liq: LocalDate, venc: LocalDate): Cronograma =
    Bonds.cronograma(liq, venc, ValorCupom, ValorFinal)

  def fluxosCaixa(liq: LocalDate, venc: LocalDate): Seq[(LocalDate, Double)] =
    Bonds.fluxos(liq, venc, ValorCupom, ValorFinal)

  /** Quotation factor: per-flow PV rounded 12dp, sum truncated 6dp;
    * goldens ntnb.py:285-296.
    */
  def cotacao(liq: LocalDate, venc: LocalDate, taxa0: Double): Double =
    cronograma(liq, venc).cotacao(taxa0, 12)

  /** PU = trunc6(trunc6(vna) * trunc6(cot)); ntnb.py:317-355. */
  def pu(vna: Double, cot: Double): Double =
    Num.truncar(Num.truncar(vna, 6) * Num.truncar(cot, 6), 6)

  /** TIR via root find on the pu chain; ntnb.py:860-904. trunc6(vna) is
    * rate-independent and taken once; the solve runs behind a sign oracle
    * seeded at the untruncated root of the quote pu0/trunc6(vna).
    */
  def taxa(liq: LocalDate, venc: LocalDate, vna: Double, pu0: Double): Double = {
    if (pu0 <= 0) return Double.NaN
    val c = cronograma(liq, venc)
    val vna6 = Num.truncar(vna, 6)
    val o = new OraculoMonotono(t => Bonds.puVna6(vna6, c.cotacao(t, 12)) - pu0, pu0, vna6)
    c.semear(o, pu0 / vna6)
    Num.truncar(Bonds.encontrarRaiz(o), 8)
  }

  /** Macaulay duration, trunc14; golden ntnb.py:704-735. */
  def duration(liq: LocalDate, venc: LocalDate, taxa0: Double): Double =
    Num.truncar(cronograma(liq, venc).duration(taxa0), 14)

  /** DV01 via 1bp quotation reprice; golden ntnb.py:785-812. */
  def dv01(liq: LocalDate, venc: LocalDate, taxa0: Double, pu0: Double): Double = {
    val t = Num.normalizarTaxa(taxa0)
    val t1 = Num.roundHalfEven(t + 0.0001, 8)
    val c = cronograma(liq, venc)
    val c1 = c.cotacao(t, 12)
    val c2 = c.cotacao(t1, 12)
    pu0 * (1 - c2 / c1)
  }
}

/** NTN-C: IGP-M linked; 12% a.a. coupon for the 2031 maturity, 6% for the
  * rest (reference ntnc.py:15-40).
  */
object NtnC {
  val ValorCupom2031 = 0.05830052
  val ValorFinal2031 = 1.05830052
  val ValorCupom = 0.02956301
  val ValorFinal = 1.02956301

  private def cupons(venc: LocalDate): (Double, Double) =
    if (venc.getYear == 2031) (ValorCupom2031, ValorFinal2031)
    else (ValorCupom, ValorFinal)

  def cotacao(liq: LocalDate, venc: LocalDate, taxa0: Double): Double = {
    val (vc, vf) = cupons(venc)
    Bonds.cronograma(liq, venc, vc, vf).cotacao(taxa0, 12)
  }

  def pu(vna: Double, cot: Double): Double = NtnB.pu(vna, cot)
}

/** LFT: SELIC floater priced as a discount/premium quotation
  * (reference lft.py).
  */
object Lft {

  /** Profitability over DI: (f_lft*f_di - 1)/(f_di - 1) with daily factors
    * (lft.py:207-232; golden 1.008594331960501). Note the DIFFERENT
    * formula from the prefixed families' daily-rate ratio.
    */
  def rentabilidade(taxaLft: Double, taxaDi: Double): Double = {
    val fatorLft = math.pow(taxaLft + 1, 1.0 / 252)
    val fatorDi = math.pow(taxaDi + 1, 1.0 / 252)
    (fatorLft * fatorDi - 1) / (fatorDi - 1)
  }
  /** cotacao = trunc6(1/(1+r)^trunc14(du/252)); goldens lft.py:131-147. */
  def cotacao(liq: LocalDate, venc: LocalDate, taxa0: Double): Double =
    cotacao(Bonds.anosTruncados(liq, venc), taxa0)

  /** The single flow's schedule is its year fraction `anos`. */
  private def cotacao(anos: Double, taxa0: Double): Double =
    Num.truncar(1 / math.pow(1 + Num.normalizarTaxa(taxa0), anos), 6)

  def pu(vna: Double, cot: Double): Double = NtnB.pu(vna, cot)

  /** Implied rate via root find; goldens lft.py:187-194. The year
    * fraction and trunc6(vna) are rate-independent and taken once. The
    * solve runs behind a sign oracle seeded at the closed-form root of the
    * untruncated quote, except past maturity (anos < 0), where the price
    * rises with the rate.
    */
  def taxa(liq: LocalDate, venc: LocalDate, vna: Double, pu0: Double): Double = {
    if (pu0 <= 0) return Double.NaN
    val anos = Bonds.anosTruncados(liq, venc)
    val vna6 = Num.truncar(vna, 6)
    val f = (t: Double) => Bonds.puVna6(vna6, cotacao(anos, t)) - pu0
    if (anos < 0) return Num.truncar(Bonds.encontrarRaiz(f), 8)
    val o = new OraculoMonotono(f, pu0, vna6)
    val alvo = pu0 / vna6
    val chute = math.pow(alvo, -1 / anos) - 1
    o.sondar(chute, anos * alvo / (1 + chute))
    Num.truncar(Bonds.encontrarRaiz(o), 8)
  }
}
