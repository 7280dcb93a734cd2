package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.time.LocalDate
import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import graft.bonds._
import graft.core.BrCalendar
import graft.curve.Interpolador

/** The bond functions that build their schedule once per call and solve
  * rates behind a sign oracle must return the same doubles, bit for bit, as
  * the schedule-per-evaluation formulas they replaced.
  * [[ScheduleIdentitySpec.Referencia]] keeps those formulas as the reference
  * implementation, with its own BigDecimal-only truncation, `math.pow`
  * rounding scale, bisection that evaluates every point and business-day
  * count (weekdays minus binary-searched holidays).
  */
class ScheduleIdentitySpec extends AnyFunSuite {
  import ScheduleIdentitySpec._

  private def bits(x: Double): Long = java.lang.Double.doubleToLongBits(x)

  /** Compares every (name, new, reference) triple; lists the first few
    * mismatches.
    */
  private final class Comparador {
    var n = 0L
    val erros = scala.collection.mutable.ArrayBuffer[String]()
    def apply(nome: => String, novo: Double, ref: Double): Unit = {
      n += 1
      if (bits(novo) != bits(ref) && erros.length < 20) erros += s"$nome: $novo vs $ref"
    }
    def check(minimo: Long): Unit = {
      assert(erros.isEmpty, erros.mkString("\n"))
      assert(n >= minimo)
    }
  }

  test("pu/cotacao/taxa/duration/dv01, NTN-C cotacao and LFT taxa are bit-identical on a generated portfolio") {
    val cmp = new Comparador
    for (seed <- Seeds; dia <- portfolio(seed); i <- dia.instrumentos) {
      val liq = dia.liq
      val tag = s"seed $seed ${i.tipo} $liq..${i.venc} @${i.taxa}"
      i.tipo match {
        case "LTN" =>
          val pu = Ltn.pu(liq, i.venc, i.taxa)
          cmp(s"$tag pu", pu, Referencia.ltnPu(liq, i.venc, i.taxa))
          cmp(s"$tag taxa", Ltn.taxa(liq, i.venc, pu), Referencia.ltnTaxa(liq, i.venc, pu))
          cmp(s"$tag duration", Ltn.duration(liq, i.venc), Referencia.ltnDuration(liq, i.venc))
          cmp(s"$tag dv01", Ltn.dv01(liq, i.venc, i.taxa, pu),
            Referencia.ltnDv01(liq, i.venc, i.taxa, pu))
        case "NTN-F" =>
          val pu = NtnF.pu(liq, i.venc, i.taxa)
          cmp(s"$tag pu", pu, Referencia.ntnfPu(liq, i.venc, i.taxa))
          cmp(s"$tag taxa", NtnF.taxa(liq, i.venc, pu), Referencia.ntnfTaxa(liq, i.venc, pu))
          cmp(s"$tag duration", NtnF.duration(liq, i.venc, i.taxa),
            Referencia.ntnfDuration(liq, i.venc, i.taxa))
          cmp(s"$tag dv01", NtnF.dv01(liq, i.venc, i.taxa, pu),
            Referencia.ntnfDv01(liq, i.venc, i.taxa, pu))
        case "NTN-B" =>
          val cot = NtnB.cotacao(liq, i.venc, i.taxa)
          cmp(s"$tag cotacao", cot, Referencia.ntnbCotacao(liq, i.venc, i.taxa))
          val pu = NtnB.pu(i.vna, cot)
          cmp(s"$tag pu", pu, Referencia.ntnbPu(i.vna, cot))
          cmp(s"$tag taxa", NtnB.taxa(liq, i.venc, i.vna, pu),
            Referencia.ntnbTaxa(liq, i.venc, i.vna, pu))
          cmp(s"$tag duration", NtnB.duration(liq, i.venc, i.taxa),
            Referencia.ntnbDuration(liq, i.venc, i.taxa))
          cmp(s"$tag dv01", NtnB.dv01(liq, i.venc, i.taxa, pu),
            Referencia.ntnbDv01(liq, i.venc, i.taxa, pu))
        case "NTN-C" =>
          cmp(s"$tag cotacao", NtnC.cotacao(liq, i.venc, i.taxa),
            Referencia.ntncCotacao(liq, i.venc, i.taxa))
        case "LFT" =>
          val pu = Referencia.lftPu(i.vna, Referencia.lftCotacao(liq, i.venc, i.taxa))
          cmp(s"$tag cotacao", Lft.cotacao(liq, i.venc, i.taxa),
            Referencia.lftCotacao(liq, i.venc, i.taxa))
          cmp(s"$tag taxa", Lft.taxa(liq, i.venc, i.vna, pu),
            Referencia.lftTaxa(liq, i.venc, i.vna, pu))
      }
    }
    // per day 6 of each kind: LTN 4 values, NTN-F 4, NTN-B 5, NTN-C 1, LFT 2
    cmp.check(Seeds.length * Dias * 6 * 16L)
  }

  test("ntnbTaxasZero is bit-identical with and without incluirCupons") {
    val cmp = new Comparador
    for (seed <- Seeds; dia <- portfolio(seed); cupons <- Seq(false, true)) {
      val novo = Bootstrap.ntnbTaxasZero(dia.liq, dia.bootVencs, dia.bootTaxas, cupons)
      val ref = Referencia.ntnbTaxasZero(dia.liq, dia.bootVencs, dia.bootTaxas, cupons)
      assert(novo.map(v => (v.dataVencimento, v.diasUteis)) ==
        ref.map(v => (v.dataVencimento, v.diasUteis)), s"seed $seed ${dia.liq}")
      novo.zip(ref).foreach { case (a, b) =>
        cmp(s"seed $seed ${dia.liq} cupons=$cupons ${a.dataVencimento}", a.taxaZero, b.taxaZero)
      }
    }
    cmp.check(Seeds.length * Dias * 2L)
  }

  test("rate solves are bit-identical on adversarial inputs") {
    val cmp = new Comparador
    val eps = Seq(-0.999, -0.95, -0.5, 1.2, 3.0, 9.99)
    for (dia <- portfolio(Seeds.head).take(Adversos)) {
      val liq = dia.liq
      // schedules with no flow and with one flow, besides the day's own
      val curtos = Seq(liq.minusDays(10), liq.plusDays(40), liq.plusMonths(5))
      def pus(pu: Double, preco: Double => Double): Seq[Double] =
        Seq(pu, pu + 3e-7, pu * (1 + 1e-9), Math.nextUp(pu), 1e-3, 1.0, 1e12, 1e300,
          Double.NaN, Double.MinPositiveValue, 1e-310, java.lang.Double.MIN_NORMAL,
          Double.PositiveInfinity) ++ eps.map(preco)
      for (i <- dia.instrumentos; venc <- i.venc +: curtos) {
        val tag = s"${i.tipo} $liq..$venc"
        i.tipo match {
          case "NTN-F" =>
            for (pu0 <- pus(NtnF.pu(liq, venc, i.taxa), t => Referencia.ntnfPu(liq, venc, t)))
              cmp(s"$tag pu0 $pu0", NtnF.taxa(liq, venc, pu0), Referencia.ntnfTaxa(liq, venc, pu0))
          case "NTN-B" =>
            for (vna <- Seq(i.vna, 0.0, -1000.0, 4e-7);
                 pu0 <- pus(Referencia.ntnbPu(i.vna, Referencia.ntnbCotacao(liq, venc, i.taxa)),
                   t => Referencia.ntnbPu(i.vna, Referencia.ntnbCotacao(liq, venc, t))))
              cmp(s"$tag vna $vna pu0 $pu0", NtnB.taxa(liq, venc, vna, pu0),
                Referencia.ntnbTaxa(liq, venc, vna, pu0))
          case "LFT" =>
            for (vna <- Seq(i.vna, 0.0, -1000.0);
                 pu0 <- pus(Referencia.lftPu(i.vna, Referencia.lftCotacao(liq, venc, i.taxa)),
                   t => Referencia.lftPu(i.vna, Referencia.lftCotacao(liq, venc, t))))
              cmp(s"$tag vna $vna pu0 $pu0", Lft.taxa(liq, venc, vna, pu0),
                Referencia.lftTaxa(liq, venc, vna, pu0))
          case _ =>
        }
      }
    }
    // per day, 6 NTN-F, 6 NTN-B at 4 VNAs and 6 LFT at 3, each at 4
    // maturities and 19 prices
    cmp.check(Adversos * 6 * 4 * 19L * (1 + 4 + 3))
  }

  test("ntnfTaxasZero is bit-identical with and without incluirCupons, NaN vertices included") {
    val cmp = new Comparador
    var nans = 0
    for (seed <- Seeds; dia <- portfolio(seed); cupons <- Seq(false, true)) {
      val c = curvaPre(dia.liq, seed)
      val novo = Bootstrap.ntnfTaxasZero(dia.liq, c.ltnVencs, c.ltnTaxas, c.ntnfVencs, c.ntnfTaxas, cupons)
      val ref = Referencia.ntnfTaxasZero(dia.liq, c.ltnVencs, c.ltnTaxas, c.ntnfVencs, c.ntnfTaxas, cupons)
      assert(novo.map(v => (v.dataVencimento, v.diasUteis)) ==
        ref.map(v => (v.dataVencimento, v.diasUteis)), s"seed $seed ${dia.liq}")
      novo.zip(ref).foreach { case (a, b) =>
        if (b.taxaZero.isNaN) nans += 1
        cmp(s"seed $seed ${dia.liq} cupons=$cupons ${a.dataVencimento}", a.taxaZero, b.taxaZero)
      }
    }
    cmp.check(Seeds.length * Dias * 2L)
    assert(nans > 0, "no curve exercised the no-prior-coupon guard")
  }

  test("table contar equals weekdays minus binary-searched holidays") {
    val ini = LocalDate.of(1989, 1, 1).toEpochDay.toInt
    val fim = LocalDate.of(2101, 12, 31).toEpochDay.toInt
    var erros = List.empty[String]
    var n = 0L
    def par(s: Int, e: Int): Unit = {
      n += 1
      if (BrCalendar.contar(s, e) != Referencia.contar(s, e) && erros.length < 10)
        erros ::= s"contar(${LocalDate.ofEpochDay(s.toLong)}, ${LocalDate.ofEpochDay(e.toLong)}) = " +
          s"${BrCalendar.contar(s, e)}, want ${Referencia.contar(s, e)}"
    }
    var s = ini
    while (s <= fim) {
      var e = s - 400
      while (e <= s + 400) { par(s, e); e += 1 }
      s += 1
    }
    // the regime switch and both table edges, against far dates on each side
    val rng = new Random(17)
    val marcos = Seq(BrCalendar.TransitionEpochDay, BrCalendar.InicioTabela, BrCalendar.FimTabela)
    for (m <- marcos; d <- -3 to 3; _ <- 0 until 200) {
      val longe = LocalDate.of(1800, 1, 1).toEpochDay.toInt + rng.nextInt(365 * 500)
      par(m + d, longe)
      par(longe, m + d)
    }
    assert(erros.isEmpty, erros.reverse.mkString("\n"))
    assert(n > 33000000L)
  }

  test("table ehDiaUtil, deslocar and gerar equal the binary-searched holiday walk") {
    def dia(d: Int) = LocalDate.ofEpochDay(d.toLong)
    var erros = List.empty[String]
    var n = 0L
    def erro(msg: => String): Unit = if (erros.length < 10) erros ::= msg
    val ini = LocalDate.of(1985, 1, 1).toEpochDay.toInt
    val fim = LocalDate.of(2110, 12, 31).toEpochDay.toInt
    var d = ini
    while (d <= fim) {
      n += 1
      if (BrCalendar.ehDiaUtil(d) != Referencia.ehDiaUtil(d)) erro(s"ehDiaUtil(${dia(d)})")
      for (k <- -30 to 30; frente <- Seq(true, false)) {
        n += 1
        val (got, want) = (BrCalendar.deslocar(d, k, frente), Referencia.deslocar(d, k, frente))
        if (got != want) erro(s"deslocar(${dia(d)}, $k, $frente) = ${dia(got)}, want ${dia(want)}")
      }
      d += 1
    }
    // the regime switch and both table edges, for every closure and regime
    val marcos = Seq(BrCalendar.TransitionEpochDay, BrCalendar.InicioTabela, BrCalendar.FimTabela)
    for (m <- marcos; a <- -20 to 20 by 5; b <- Seq(0, 1, 7, 40);
         closed <- Seq("both", "left", "right", "none");
         regime <- Seq("antigo", "novo", "inferir")) {
      n += 1
      val (s, e) = (dia(m + a), dia(m + a + b))
      val got = BrCalendar.gerar(s, e, closed, regime)
      val want = Referencia.gerar(s, e, closed, regime)
      if (got != want) erro(s"gerar($s, $e, $closed, $regime) = $got, want $want")
    }
    assert(erros.isEmpty, erros.reverse.mkString("\n"))
    assert(n > 5600000L)
  }

  test("flows and the tuple schedule match the reference's sorted schedule") {
    for (seed <- Seeds.take(1); dia <- portfolio(seed); i <- dia.instrumentos) {
      assert(NtnF.fluxosCaixa(dia.liq, i.venc) ==
        Referencia.fluxosCaixa(dia.liq, i.venc, NtnF.ValorCupom, NtnF.ValorFinal))
      assert(Bonds.gerarDatasPagamento(dia.liq, i.venc, 3) ==
        Referencia.gerarDatasPagamento(dia.liq, i.venc, 3))
    }
  }
}

object ScheduleIdentitySpec {

  val Seeds: Seq[Long] = Seq(1L, 2L, 3L, 4L, 5L)
  val Dias = 80
  /** Days of the first seed's portfolio whose instruments get adversarial solves. */
  val Adversos = 6

  final case class Titulo(tipo: String, venc: LocalDate, taxa: Double, vna: Double)
  final case class Dia(liq: LocalDate, instrumentos: Seq[Titulo],
                       bootVencs: Seq[LocalDate], bootTaxas: Seq[Double])

  private def r8(x: Double) = math.rint(x * 1e8) / 1e8
  private def r6(x: Double) = math.rint(x * 1e6) / 1e6

  /** 80 settlement dates from 2005 to 2045 per seed; per date 6 LTN, 6
    * NTN-F, 6 NTN-B, 6 NTN-C (2031 maturities among them) and 6 LFT. About
    * one instrument in 25 has already matured (an empty schedule). Rates are
    * drawn at 9 places so that normalization truncates them.
    */
  def portfolio(seed: Long): Seq[Dia] = {
    val rng = new Random(seed)
    (0 until Dias).map { _ =>
      val liq = BrCalendar.deslocar(LocalDate.of(2005, 1, 3)
        .plusDays(rng.nextInt(365 * 40).toLong), 0)
      def taxa(lo: Double, hi: Double) =
        math.rint((lo + (hi - lo) * rng.nextDouble()) * 1e9) / 1e9
      def ano(max: Int) =
        if (rng.nextInt(25) == 0) liq.getYear - rng.nextInt(3)
        else liq.getYear + 1 + rng.nextInt(max)
      val ltn = Seq.fill(6) {
        val m = liq.plusMonths(1L + rng.nextInt(72))
        Titulo("LTN", LocalDate.of(m.getYear, ((m.getMonthValue - 1) / 3) * 3 + 1, 1),
          taxa(0.02, 0.20), 0.0)
      }
      val ntnf = Seq.fill(6)(Titulo("NTN-F", LocalDate.of(ano(12), 1, 1), taxa(0.02, 0.20), 0.0))
      val ntnb = Seq.fill(6) {
        val y = ano(36)
        Titulo("NTN-B", if (y % 2 == 0) LocalDate.of(y, 8, 15) else LocalDate.of(y, 5, 15),
          taxa(-0.01, 0.12), r6(1000 + 4000 * rng.nextDouble()))
      }
      val ntnc = Seq.fill(6) {
        val y = if (rng.nextInt(3) == 0) 2031 else ano(20)
        Titulo("NTN-C", LocalDate.of(y, 1 + 3 * rng.nextInt(4), 1), taxa(0.0, 0.12), 0.0)
      }
      val lft = Seq.fill(6) {
        Titulo("LFT", LocalDate.of(ano(8), 3, 1), taxa(-0.002, 0.004),
          r6(3000 + 13000 * rng.nextDouble()))
      }
      val bootVencs = (liq.getYear + 1 to liq.getYear + 36).map(y =>
        if (y % 2 == 0) LocalDate.of(y, 8, 15) else LocalDate.of(y, 5, 15))
        .filter(_ => rng.nextInt(3) == 0).take(10) match {
          case Seq() => Seq(LocalDate.of(liq.getYear + 3, 5, 15))
          case vs => vs
        }
      val nivel = 0.03 + 0.05 * rng.nextDouble()
      val bootTaxas = bootVencs.map(v =>
        r8(nivel + 0.01 * math.log1p((v.getYear - liq.getYear).toDouble) / 4))
      Dia(liq, rng.shuffle(ltn ++ ntnf ++ ntnb ++ ntnc ++ lft), bootVencs, bootTaxas)
    }
  }

  final case class CurvaPre(ltnVencs: Seq[LocalDate], ltnTaxas: Seq[Double],
                            ntnfVencs: Seq[LocalDate], ntnfTaxas: Seq[Double])

  /** An LTN/NTN-F curve at `liq`: quarterly LTNs up to four years out and
    * NTN-Fs maturing on January 1st up to twelve years out. One curve in
    * five has a single LTN that matures before the first coupon date, so
    * that the first grid point has no earlier coupon (a NaN vertex).
    */
  def curvaPre(liq: LocalDate, seed: Long): CurvaPre = {
    val rng = new Random(seed * 1000 + liq.toEpochDay)
    val nivel = 0.05 + 0.10 * rng.nextDouble()
    def taxa(anos: Double) = r8(nivel + 0.01 * math.log1p(anos) * (rng.nextDouble() - 0.3))
    val ltnVencs =
      if (rng.nextInt(5) == 0) Seq(liq.plusDays(1L + rng.nextInt(20)))
      else (1 to 16).map { k =>
        val m = liq.plusMonths(3L * k)
        LocalDate.of(m.getYear, ((m.getMonthValue - 1) / 3) * 3 + 1, 1)
      }.filter(_ => rng.nextInt(3) == 0).distinct match {
        case Seq() => Seq(LocalDate.of(liq.getYear + 1, 7, 1))
        case vs => vs
      }
    val ntnfVencs = (liq.getYear + 1 to liq.getYear + 12).map(LocalDate.of(_, 1, 1))
      .filter(_ => rng.nextInt(2) == 0) match {
        case Seq() => Seq(LocalDate.of(liq.getYear + 5, 1, 1))
        case vs => vs
      }
    CurvaPre(ltnVencs, ltnVencs.map(v => taxa((v.getYear - liq.getYear).toDouble)),
      ntnfVencs, ntnfVencs.map(v => taxa((v.getYear - liq.getYear).toDouble)))
  }

  /** The schedule-per-evaluation formulas: every evaluation rebuilds the
    * payment dates, counts business days and truncates each year fraction
    * through BigDecimal.
    */
  object Referencia {

    def truncar(x: Double, decimals: Int): Double = {
      if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return x
      JBigDecimal.valueOf(x).setScale(decimals, RoundingMode.DOWN).doubleValue()
    }

    def roundHalfEven(x: Double, decimals: Int): Double = {
      if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return x
      new JBigDecimal(x).setScale(decimals, RoundingMode.HALF_EVEN).doubleValue()
    }

    def roundPolars(x: Double, decimals: Int): Double = {
      if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return x
      val p = math.pow(10.0, decimals)
      Math.rint(x * p) / p
    }

    def normalizarTaxa(taxa: Double): Double = truncar(taxa, 8)

    private val weekdayHolidaysOld = BrCalendar.holidaysOld.filter(BrCalendar.isWeekday)
    private val weekdayHolidaysNew = BrCalendar.holidaysNew.filter(BrCalendar.isWeekday)

    private def weekdaysIn(start: Int, end: Int): Int = {
      val n = end - start
      if (n <= 0) return 0
      var count = (n / 7) * 5
      var d = start + (n / 7) * 7
      while (d < end) {
        if (BrCalendar.isWeekday(d)) count += 1
        d += 1
      }
      count
    }

    private def lowerBound(arr: Array[Int], key: Int): Int = {
      val i = java.util.Arrays.binarySearch(arr, key)
      if (i >= 0) i else -(i + 1)
    }

    private def countInRange(arr: Array[Int], lo: Int, hi: Int): Int =
      if (hi <= lo) 0 else lowerBound(arr, hi) - lowerBound(arr, lo)

    /** Business days in [start, end), negative when start > end, under the
      * regime of `start`: weekdays minus the weekday holidays in range.
      */
    def contar(start: Int, end: Int): Long = {
      val hol = if (start < BrCalendar.TransitionEpochDay) weekdayHolidaysOld else weekdayHolidaysNew
      if (start <= end) (weekdaysIn(start, end) - countInRange(hol, start, end)).toLong
      else -(weekdaysIn(end, start) - countInRange(hol, end, start)).toLong
    }

    def contar(start: LocalDate, end: LocalDate): Long =
      contar(start.toEpochDay.toInt, end.toEpochDay.toInt)

    private def ehUtilSob(d: Int, hol: Array[Int]): Boolean =
      BrCalendar.isWeekday(d) && java.util.Arrays.binarySearch(hol, d) < 0

    private def feriados(ancora: Int): Array[Int] =
      if (ancora < BrCalendar.TransitionEpochDay) BrCalendar.holidaysOld else BrCalendar.holidaysNew

    /** Business day under its own date's regime: weekday, not a holiday. */
    def ehDiaUtil(d: Int): Boolean = ehUtilSob(d, feriados(d))

    /** Roll, then walk n business days, one binary search per day, under
      * the regime of `d0`.
      */
    def deslocar(d0: Int, n: Int, rollForward: Boolean): Int = {
      val hol = feriados(d0)
      var d = d0
      while (!ehUtilSob(d, hol)) d += (if (rollForward) 1 else -1)
      for (_ <- 0 until math.abs(n)) {
        d += Integer.signum(n)
        while (!ehUtilSob(d, hol)) d += Integer.signum(n)
      }
      d
    }

    def gerar(start: LocalDate, end: LocalDate, closed: String, regime: String): Seq[LocalDate] = {
      val (s, e) = (start.toEpochDay.toInt, end.toEpochDay.toInt)
      val hol = regime match {
        case "antigo" => BrCalendar.holidaysOld
        case "novo" => BrCalendar.holidaysNew
        case _ => feriados(s)
      }
      val lo = if (closed == "both" || closed == "left") s else s + 1
      val hi = if (closed == "both" || closed == "right") e else e - 1
      (lo to hi).filter(ehUtilSob(_, hol)).map(d => LocalDate.ofEpochDay(d.toLong))
    }

    /** Bracket search and bisection evaluating f at every point. */
    def encontrarRaiz(f: Double => Double): Double = {
      val f0 = f(0.01)
      if (math.abs(f0) == 0) return 0.01
      var interval: Option[(Double, Double)] = None
      var a = 0.01; var fa = f0
      var b = 0.02
      var passo = 0.01
      var i = 0
      while (interval.isEmpty && i < 100 && b <= 10.0) {
        val fb = f(b)
        if (fa * fb < 0) interval = Some((a, b))
        else { a = b; fa = fb; passo *= 1.6; b += passo }
        i += 1
      }
      if (interval.isEmpty) {
        a = 0.01; fa = f0
        b = 0.01 - 0.01
        passo = 0.01
        i = 0
        while (interval.isEmpty && i < 100 && b >= -1.0) {
          val fb = f(b)
          if (fa * fb < 0) interval = Some((b, a))
          else { a = b; fa = fb; passo *= 1.6; b -= passo }
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
            if (math.abs(fm) < 1e-12 || (hi - lo) / 2 < 1e-12) res = mid
            else if (fm * flo < 0) hi = mid
            else { lo = mid; flo = fm }
            it += 1
          }
          if (res.isNaN) (lo + hi) / 2 else res
      }
    }

    def subtrairMeses(data: LocalDate, meses: Int): LocalDate = {
      var mes = data.getMonthValue - meses
      val ano = data.getYear + (mes - 1) / 12 + (if ((mes - 1) % 12 < 0) -1 else 0)
      mes = (mes - 1) % 12 + 1
      if (mes <= 0) mes += 12
      LocalDate.of(ano, mes, data.getDayOfMonth)
    }

    def gerarDatasPagamento(inicio: LocalDate, fim: LocalDate,
                            intervaloMeses: Int = 6): Seq[LocalDate] = {
      val out = scala.collection.mutable.ArrayBuffer[LocalDate]()
      var d = fim
      while (d.isAfter(inicio)) {
        out += d
        d = subtrairMeses(d, intervaloMeses)
      }
      out.sorted.toSeq
    }

    def fluxosCaixa(liquidacao: LocalDate, vencimento: LocalDate,
                    valorCupom: Double, valorFinal: Double): Seq[(LocalDate, Double)] =
      gerarDatasPagamento(liquidacao, vencimento).map { d =>
        d -> (if (d == vencimento) valorFinal else valorCupom)
      }

    def calcularPv(fluxos: Seq[Double], taxas: Seq[Double], prazos: Seq[Double]): Double = {
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

    def anosTruncados(liq: LocalDate, venc: LocalDate): Double =
      truncar(contar(liq, venc) / 252.0, 14)

    def ltnPu(liq: LocalDate, venc: LocalDate, taxa: Double): Double = {
      val t = normalizarTaxa(taxa)
      truncar(1000.0 / math.pow(1 + t, anosTruncados(liq, venc)), 6)
    }

    def ltnTaxa(liq: LocalDate, venc: LocalDate, pu: Double): Double = {
      if (pu <= 0) return Double.NaN
      truncar(math.pow(1000.0 / pu, 1 / anosTruncados(liq, venc)) - 1, 8)
    }

    def ltnDuration(liq: LocalDate, venc: LocalDate): Double =
      contar(liq, venc) / 252.0

    def ltnDv01(liq: LocalDate, venc: LocalDate, taxa0: Double, pu0: Double): Double = {
      val t = normalizarTaxa(taxa0)
      val t1 = roundHalfEven(t + 0.0001, 8)
      val anos = anosTruncados(liq, venc)
      val p1 = truncar(1000.0 / math.pow(1 + t, anos), 6)
      val p2 = truncar(1000.0 / math.pow(1 + t1, anos), 6)
      pu0 * (1 - p2 / p1)
    }

    private def cotacaoFluxos(liq: LocalDate, fluxos: Seq[(LocalDate, Double)],
                              taxa0: Double, casas: Int): Double = {
      val t = normalizarTaxa(taxa0)
      if (fluxos.isEmpty) return Double.NaN
      val soma = fluxos.map { case (d, v) =>
        roundPolars(v / math.pow(1 + t, anosTruncados(liq, d)), casas)
      }.sum
      truncar(soma, 6)
    }

    private def durationFluxos(liq: LocalDate, fluxos: Seq[(LocalDate, Double)],
                               taxa0: Double): Double = {
      if (fluxos.isEmpty) return Double.NaN
      val termos = fluxos.map { case (d, v) =>
        val anos = contar(liq, d) / 252.0
        val vp = v / math.pow(1 + taxa0, anos)
        (vp, vp * anos)
      }
      termos.map(_._2).sum / termos.map(_._1).sum
    }

    def ntnfPu(liq: LocalDate, venc: LocalDate, taxa0: Double): Double =
      cotacaoFluxos(liq, fluxosCaixa(liq, venc, NtnF.ValorCupom, NtnF.ValorFinal), taxa0, 9)

    def ntnfTaxa(liq: LocalDate, venc: LocalDate, pu0: Double): Double = {
      if (pu0 <= 0) return Double.NaN
      truncar(encontrarRaiz(t => ntnfPu(liq, venc, t) - pu0), 8)
    }

    def ntnfDuration(liq: LocalDate, venc: LocalDate, taxa0: Double): Double =
      durationFluxos(liq, fluxosCaixa(liq, venc, NtnF.ValorCupom, NtnF.ValorFinal), taxa0)

    def ntnfDv01(liq: LocalDate, venc: LocalDate, taxa0: Double, pu0: Double): Double = {
      val t = normalizarTaxa(taxa0)
      val t1 = roundHalfEven(t + 0.0001, 8)
      pu0 * (1 - ntnfPu(liq, venc, t1) / ntnfPu(liq, venc, t))
    }

    def ntnbCotacao(liq: LocalDate, venc: LocalDate, taxa0: Double): Double =
      cotacaoFluxos(liq, fluxosCaixa(liq, venc, NtnB.ValorCupom, NtnB.ValorFinal), taxa0, 12)

    def ntnbPu(vna: Double, cot: Double): Double =
      truncar(truncar(vna, 6) * truncar(cot, 6), 6)

    def ntnbTaxa(liq: LocalDate, venc: LocalDate, vna: Double, pu0: Double): Double = {
      if (pu0 <= 0) return Double.NaN
      truncar(encontrarRaiz(t => ntnbPu(vna, ntnbCotacao(liq, venc, t)) - pu0), 8)
    }

    def ntnbDuration(liq: LocalDate, venc: LocalDate, taxa0: Double): Double =
      truncar(durationFluxos(liq,
        fluxosCaixa(liq, venc, NtnB.ValorCupom, NtnB.ValorFinal), taxa0), 14)

    def ntnbDv01(liq: LocalDate, venc: LocalDate, taxa0: Double, pu0: Double): Double = {
      val t = normalizarTaxa(taxa0)
      val t1 = roundHalfEven(t + 0.0001, 8)
      pu0 * (1 - ntnbCotacao(liq, venc, t1) / ntnbCotacao(liq, venc, t))
    }

    def ntncCotacao(liq: LocalDate, venc: LocalDate, taxa0: Double): Double = {
      val (vc, vf) =
        if (venc.getYear == 2031) (NtnC.ValorCupom2031, NtnC.ValorFinal2031)
        else (NtnC.ValorCupom, NtnC.ValorFinal)
      cotacaoFluxos(liq, fluxosCaixa(liq, venc, vc, vf), taxa0, 12)
    }

    def lftCotacao(liq: LocalDate, venc: LocalDate, taxa0: Double): Double = {
      val t = normalizarTaxa(taxa0)
      truncar(1 / math.pow(1 + t, anosTruncados(liq, venc)), 6)
    }

    def lftPu(vna: Double, cot: Double): Double = ntnbPu(vna, cot)

    def lftTaxa(liq: LocalDate, venc: LocalDate, vna: Double, pu0: Double): Double = {
      if (pu0 <= 0) return Double.NaN
      truncar(encontrarRaiz(t => lftPu(vna, lftCotacao(liq, venc, t)) - pu0), 8)
    }

    def ntnbTaxasZero(liq: LocalDate, vencimentos: Seq[LocalDate], taxas: Seq[Double],
                      incluirCupons: Boolean): Seq[Bootstrap.ZeroVertex] = {
      val ordered = vencimentos.zip(taxas).sortBy(_._1)
      val vencs = ordered.map(_._1)
      val interp = new Interpolador(
        vencs.map(v => contar(liq, v)), ordered.map(_._2), "flat_forward")
      val grid = gerarDatasPagamento(liq, vencs.last, intervaloMeses = 3)
      val dias = grid.map(d => contar(liq, d))
      val anos = dias.map(_ / 252.0)
      val tir = dias.map(interp(_))
      val zeros = scala.collection.mutable.LinkedHashMap[LocalDate, Double]()
      val anosPorData = grid.zip(anos).toMap
      val primeiro = vencs.head
      grid.indices.foreach { i =>
        val venc = grid(i)
        if (!venc.isAfter(primeiro)) {
          zeros(venc) = tir(i)
        } else {
          val fluxosAnteriores = gerarDatasPagamento(liq, venc, intervaloMeses = 6).dropRight(1)
          val pvCupons = calcularPv(
            fluxosAnteriores.map(_ => NtnB.ValorCupom),
            fluxosAnteriores.map(zeros(_)),
            fluxosAnteriores.map(anosPorData(_)))
          val preco = ntnbCotacao(liq, venc, tir(i))
          val fator = NtnB.ValorFinal / (preco - pvCupons)
          zeros(venc) = math.pow(fator, 1 / anos(i)) - 1
        }
      }
      val all = grid.indices.map(i => Bootstrap.ZeroVertex(grid(i), dias(i), zeros(grid(i))))
      if (incluirCupons) all else all.filter(v => vencs.contains(v.dataVencimento))
    }

    def ntnfTaxasZero(liq: LocalDate,
                      vencimentosLtn: Seq[LocalDate], taxasLtn: Seq[Double],
                      vencimentosNtnf: Seq[LocalDate], taxasNtnf: Seq[Double],
                      incluirCupons: Boolean): Seq[Bootstrap.ZeroVertex] = {
      val interpLtn = new Interpolador(
        vencimentosLtn.map(v => contar(liq, v)), taxasLtn, "flat_forward")
      val interpNtnf = new Interpolador(
        vencimentosNtnf.map(v => contar(liq, v)), taxasNtnf, "flat_forward")
      val ultimoLtn = vencimentosLtn.max
      val ultimoNtnf = vencimentosNtnf.max
      val grid = gerarDatasPagamento(liq, ultimoNtnf, intervaloMeses = 6)
      val spot = scala.collection.mutable.LinkedHashMap[LocalDate, Double]()
      grid.foreach { venc =>
        val du = contar(liq, venc)
        if (!venc.isAfter(ultimoLtn)) {
          spot(venc) = interpLtn(du)
        } else {
          val tir = interpNtnf(du)
          val datasFluxo = gerarDatasPagamento(liq, venc, 6).dropRight(1)
          if (datasFluxo.isEmpty) {
            spot(venc) = Double.NaN
          } else {
            val pvCupons = calcularPv(
              datasFluxo.map(_ => NtnF.ValorCupom),
              datasFluxo.map(spot(_)),
              datasFluxo.map(d => contar(liq, d) / 252.0))
            val preco = ntnfPu(liq, venc, tir)
            val fator = NtnF.ValorFinal / (preco - pvCupons)
            spot(venc) = math.pow(fator, 1 / (du / 252.0)) - 1
          }
        }
      }
      val all = grid.map(v => Bootstrap.ZeroVertex(v, contar(liq, v), spot(v)))
      if (incluirCupons) all
      else all.filter(v => vencimentosNtnf.contains(v.dataVencimento))
    }
  }
}
