package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.time.LocalDate
import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import graft.bonds._
import graft.core.BrCalendar
import graft.curve.Interpolador

/** The bond functions that build their schedule once per call must return
  * the same doubles, bit for bit, as the schedule-per-evaluation formulas
  * they replaced. [[ScheduleIdentitySpec.Referencia]] keeps those formulas
  * (with the BigDecimal-only truncation and `math.pow` rounding scale) as
  * the reference implementation.
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

    def gerarDatasPagamento(inicio: LocalDate, fim: LocalDate,
                            intervaloMeses: Int = 6): Seq[LocalDate] = {
      val out = scala.collection.mutable.ArrayBuffer[LocalDate]()
      var d = fim
      while (d.isAfter(inicio)) {
        out += d
        d = Bonds.subtrairMeses(d, intervaloMeses)
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
      truncar(BrCalendar.contar(liq, venc) / 252.0, 14)

    def ltnPu(liq: LocalDate, venc: LocalDate, taxa: Double): Double = {
      val t = normalizarTaxa(taxa)
      truncar(1000.0 / math.pow(1 + t, anosTruncados(liq, venc)), 6)
    }

    def ltnTaxa(liq: LocalDate, venc: LocalDate, pu: Double): Double = {
      if (pu <= 0) return Double.NaN
      truncar(math.pow(1000.0 / pu, 1 / anosTruncados(liq, venc)) - 1, 8)
    }

    def ltnDuration(liq: LocalDate, venc: LocalDate): Double =
      BrCalendar.contar(liq, venc) / 252.0

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
        val anos = BrCalendar.contar(liq, d) / 252.0
        val vp = v / math.pow(1 + taxa0, anos)
        (vp, vp * anos)
      }
      termos.map(_._2).sum / termos.map(_._1).sum
    }

    def ntnfPu(liq: LocalDate, venc: LocalDate, taxa0: Double): Double =
      cotacaoFluxos(liq, fluxosCaixa(liq, venc, NtnF.ValorCupom, NtnF.ValorFinal), taxa0, 9)

    def ntnfTaxa(liq: LocalDate, venc: LocalDate, pu0: Double): Double = {
      if (pu0 <= 0) return Double.NaN
      truncar(Bonds.encontrarRaiz(t => ntnfPu(liq, venc, t) - pu0), 8)
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
      truncar(Bonds.encontrarRaiz(t => ntnbPu(vna, ntnbCotacao(liq, venc, t)) - pu0), 8)
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
      truncar(Bonds.encontrarRaiz(t => lftPu(vna, lftCotacao(liq, venc, t)) - pu0), 8)
    }

    def ntnbTaxasZero(liq: LocalDate, vencimentos: Seq[LocalDate], taxas: Seq[Double],
                      incluirCupons: Boolean): Seq[Bootstrap.ZeroVertex] = {
      val ordered = vencimentos.zip(taxas).sortBy(_._1)
      val vencs = ordered.map(_._1)
      val interp = new Interpolador(
        vencs.map(v => BrCalendar.contar(liq, v)), ordered.map(_._2), "flat_forward")
      val grid = gerarDatasPagamento(liq, vencs.last, intervaloMeses = 3)
      val dias = grid.map(d => BrCalendar.contar(liq, d))
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
  }
}
