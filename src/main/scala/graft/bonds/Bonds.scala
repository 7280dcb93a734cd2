package graft.bonds

import java.time.LocalDate
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
  * Everything in a price that does not depend on the rate (payment dates,
  * amounts, business-day counts and truncated year fractions) is built once
  * per call into a [[Cronograma]]; `taxa`, `dv01` and the other multi-rate
  * functions evaluate that one schedule at every rate, and the root solves
  * never rebuild it.
  */
object Bonds {

  // ------------------------------------------------------------- schedules

  /** Subtract months preserving the day (reference _utils.py:133-138). */
  def subtrairMeses(data: LocalDate, meses: Int): LocalDate = {
    var mes = data.getMonthValue - meses
    val ano = data.getYear + (mes - 1) / 12 + (if ((mes - 1) % 12 < 0) -1 else 0)
    mes = (mes - 1) % 12 + 1
    if (mes <= 0) mes += 12
    LocalDate.of(ano, mes, data.getDayOfMonth)
  }

  /** Payment dates between start (exclusive) and end (inclusive), stepping
    * back `intervaloMeses` months from the maturity
    * (reference _utils.py:141-165).
    */
  def gerarDatasPagamento(inicio: LocalDate, fim: LocalDate,
                          intervaloMeses: Int = 6): Seq[LocalDate] = {
    require(intervaloMeses > 0)
    val out = scala.collection.mutable.ArrayBuffer[LocalDate]()
    var d = fim
    while (d.isAfter(inicio)) {
      out += d
      d = subtrairMeses(d, intervaloMeses)
    }
    out.reverse.toSeq // generated strictly descending
  }

  /** The semiannual schedule: coupon every semester, principal+coupon at
    * maturity.
    */
  private[bonds] def cronograma(liquidacao: LocalDate, vencimento: LocalDate,
                                valorCupom: Double, valorFinal: Double): Cronograma = {
    val datas = gerarDatasPagamento(liquidacao, vencimento).toArray
    val n = datas.length
    val valores = new Array[Double](n)
    val anosDu = new Array[Double](n)
    var i = 0
    while (i < n) {
      valores(i) = if (datas(i) == vencimento) valorFinal else valorCupom
      anosDu(i) = BrCalendar.contar(liquidacao, datas(i)) / 252.0
      i += 1
    }
    new Cronograma(datas, valores, anosDu)
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

  /** Bracket search (growth 1.6, rate in [-1, 10]) + bisection
    * (tol 1e-12, 100 iters) — reference _utils.py:262-348.
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
        val Tol = 1e-12
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

  /** trunc6(vna6 * trunc6(cot)) for a VNA already truncated at 6 places:
    * the rate-dependent step of the NTN-B / NTN-C / LFT pu chain.
    */
  private[bonds] def puVna6(vna6: Double, cot: Double): Double =
    Num.truncar(vna6 * Num.truncar(cot, 6), 6)

  /** Truncated year fraction trunc14(du/252). */
  def anosTruncados(liq: LocalDate, venc: LocalDate): Double =
    Num.truncar(BrCalendar.contar(liq, venc) / 252.0, 14)
}

/** One bond's cash-flow schedule from one settlement date, in payment
  * order: per flow, its date, its amount, the raw du/252 for duration and
  * trunc14(du/252) for pricing (taken on the first price, so a duration
  * never pays for it). Nothing in it depends on the rate, so a call builds
  * it once and evaluates it at as many rates as it needs.
  */
private[bonds] final class Cronograma (
    datas: Array[LocalDate], valores: Array[Double], anosDu: Array[Double]) {

  private lazy val anos: Array[Double] = anosDu.map(Num.truncar(_, 14))

  /** (paymentDate, amount) flows. */
  def fluxos: Seq[(LocalDate, Double)] = datas.indices.map(i => datas(i) -> valores(i))

  /** trunc6(Σ roundPolars(v/(1+t)^trunc14(du/252), casas)) at the
    * normalized rate t, summed in payment order; NaN with no flows.
    */
  def cotacao(taxa0: Double, casas: Int): Double = {
    if (datas.isEmpty) return Double.NaN
    val t = Num.normalizarTaxa(taxa0)
    val a = anos
    var soma = 0.0
    var i = 0
    while (i < a.length) {
      soma += Num.roundPolars(valores(i) / math.pow(1 + t, a(i)), casas)
      i += 1
    }
    Num.truncar(soma, 6)
  }

  /** Raw Macaulay duration on du/252 at the rate as given; NaN with no
    * flows.
    */
  def duration(taxa: Double): Double = {
    if (datas.isEmpty) return Double.NaN
    var somaVp = 0.0
    var somaVpAnos = 0.0
    var i = 0
    while (i < anosDu.length) {
      val vp = valores(i) / math.pow(1 + taxa, anosDu(i))
      somaVp += vp
      somaVpAnos += vp * anosDu(i)
      i += 1
    }
    somaVpAnos / somaVp
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
    cronograma(liq, venc).fluxos

  /** PU: per-flow PV rounded 9dp, sum truncated 6dp; ntnf.py:285-339. */
  def pu(liq: LocalDate, venc: LocalDate, taxa0: Double): Double =
    cronograma(liq, venc).cotacao(taxa0, 9)

  /** TIR via bracket+bisection, truncated 8dp; ntnf.py:979-1018. */
  def taxa(liq: LocalDate, venc: LocalDate, pu0: Double): Double = {
    if (pu0 <= 0) return Double.NaN
    val c = cronograma(liq, venc)
    Num.truncar(Bonds.encontrarRaiz(t => c.cotacao(t, 9) - pu0), 8)
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
    cronograma(liq, venc).fluxos

  /** Quotation factor: per-flow PV rounded 12dp, sum truncated 6dp;
    * goldens ntnb.py:285-296.
    */
  def cotacao(liq: LocalDate, venc: LocalDate, taxa0: Double): Double =
    cronograma(liq, venc).cotacao(taxa0, 12)

  /** PU = trunc6(trunc6(vna) * trunc6(cot)); ntnb.py:317-355. */
  def pu(vna: Double, cot: Double): Double =
    Bonds.puVna6(Num.truncar(vna, 6), cot)

  /** TIR via root find on the pu chain; ntnb.py:860-904. trunc6(vna) is
    * rate-independent and taken once.
    */
  def taxa(liq: LocalDate, venc: LocalDate, vna: Double, pu0: Double): Double = {
    if (pu0 <= 0) return Double.NaN
    val c = cronograma(liq, venc)
    val vna6 = Num.truncar(vna, 6)
    Num.truncar(
      Bonds.encontrarRaiz(t => Bonds.puVna6(vna6, c.cotacao(t, 12)) - pu0), 8)
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
    * fraction and trunc6(vna) are rate-independent and taken once.
    */
  def taxa(liq: LocalDate, venc: LocalDate, vna: Double, pu0: Double): Double = {
    if (pu0 <= 0) return Double.NaN
    val anos = Bonds.anosTruncados(liq, venc)
    val vna6 = Num.truncar(vna, 6)
    Num.truncar(
      Bonds.encontrarRaiz(t => Bonds.puVna6(vna6, cotacao(anos, t)) - pu0), 8)
  }
}
