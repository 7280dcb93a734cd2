package pbench

import java.time.LocalDate
import scala.util.Random
import graft.bonds.{Bootstrap, Bonds, Ltn, NtnB, NtnF}
import graft.core.{BrCalendar, Num}
import graft.curve.Interpolador

/** The scalar_pricing workload's inputs, op chain and checks. */
object Scalar {

  sealed trait Kind { def name: String }
  case object LTN extends Kind { val name = "ltn" }
  case object NTNF extends Kind { val name = "ntnf" }
  case object NTNB extends Kind { val name = "ntnb" }

  /** One instrument to revalue: trade date, maturity, spread over the
    * day's curve and (NTN-B only) the VNA.
    */
  final case class Instrument(kind: Kind, trade: LocalDate, venc: LocalDate,
                              spread: Double, vna: Double)

  /** One simulated trade date: its 7-vertex curve (business days, rates),
    * its instruments and the NTN-B set its bootstrap solves.
    */
  final case class TradeDay(trade: LocalDate, vertices: Seq[Long],
                            rates: Seq[Double], instruments: Seq[Instrument],
                            ntnbVencs: Seq[LocalDate], ntnbTaxas: Seq[Double]) {
    val curve = new Interpolador(vertices, rates, "flat_forward")
    lazy val liq: LocalDate = BrCalendar.deslocar(trade, 1)
  }

  /** Result of one revaluation; every field is checked. */
  final case class Reval(liq: LocalDate, du: Long, taxa: Double, pu: Double,
                         taxaBack: Double, duration: Double)

  val Days = 80
  val PerKind = 10
  /** Curve vertices, in business days: 1 month to 36 years, past the
    * longest maturity generated, so every rate is interpolated.
    */
  val VertexDu: Seq[Long] = Seq(21L, 126L, 252L, 756L, 1512L, 3024L, 9072L)
  /** Span of the curve's level (its 1-month rate) over a portfolio. */
  val LevelLo = 0.07
  val LevelHi = 0.15
  /** NTN-B rates sit below the nominal curve by roughly expected inflation. */
  val NtnbWedge = 0.045

  // real STN maturities: NTN-B in May of odd and August of even years
  private def ntnbMaturities(after: LocalDate): Seq[LocalDate] =
    (after.getYear + 1 to after.getYear + 30).map(y =>
      if (y % 2 == 0) LocalDate.of(y, 8, 15) else LocalDate.of(y, 5, 15))

  /** The seed's portfolio: `Days` business days, each with its own curve
    * and `PerKind` LTN, NTN-F and NTN-B instruments. Same seed, same days.
    *
    * The root solves take longer at higher rates, so every seed spans the
    * same levels: [LevelLo, LevelHi) is cut into one stratum per day, and
    * the seed orders the strata and draws a level within each. With one
    * level for the whole portfolio, throughput would follow the seed.
    */
  def generate(seed: Long): Seq[TradeDay] = {
    val rng = new Random(seed)
    val start = LocalDate.of(2016, 1, 4).plusDays(rng.nextInt(365 * 9).toLong)
    var d = BrCalendar.deslocar(start, 0)
    val strata = rng.shuffle((0 until Days).toVector)
    strata.map { stratum =>
      d = BrCalendar.deslocar(d, 1 + rng.nextInt(5))
      val level = LevelLo + (LevelHi - LevelLo) * (stratum + rng.nextDouble()) / Days
      val slope = 0.01 * (rng.nextDouble() - 0.5)
      val rates = VertexDu.map(du => round8(level + slope * math.log(du / 21.0) / math.log(432.0)))
      def spread() = round8(0.002 * (rng.nextDouble() - 0.5))
      val ltn = (0 until PerKind).map { _ =>
        val m = d.plusMonths(3L + rng.nextInt(69))
        val venc = LocalDate.of(m.getYear, ((m.getMonthValue - 1) / 3) * 3 + 1, 1)
        Instrument(LTN, d, if (venc.isAfter(d.plusMonths(1))) venc else venc.plusMonths(3), spread(), 0.0)
      }
      val ntnf = (0 until PerKind).map { _ =>
        Instrument(NTNF, d, LocalDate.of(d.getYear + 2 + rng.nextInt(10), 1, 1), spread(), 0.0)
      }
      val vencsB = ntnbMaturities(d)
      val ntnb = (0 until PerKind).map { _ =>
        Instrument(NTNB, d, vencsB(rng.nextInt(vencsB.length)), spread(),
          round6(3000 + 1500 * rng.nextDouble()))
      }
      val day0 = TradeDay(d, VertexDu, rates, ltn ++ ntnf ++ ntnb, Nil, Nil)
      val bootVencs = ntnb.map(_.venc).distinct.sorted
      val bootTaxas = bootVencs.map(v =>
        Num.normalizarTaxa(day0.curve.interpolar(BrCalendar.contar(day0.liq, v)) - NtnbWedge))
      day0.copy(ntnbVencs = bootVencs, ntnbTaxas = bootTaxas)
    }
  }

  private def round8(x: Double) = math.rint(x * 1e8) / 1e8
  private def round6(x: Double) = math.rint(x * 1e6) / 1e6

  /** STN unit price of `i` at rate `taxa`, settling on `liq`. */
  def price(i: Instrument, liq: LocalDate, taxa: Double): Double = i.kind match {
    case LTN => Ltn.pu(liq, i.venc, taxa)
    case NTNF => NtnF.pu(liq, i.venc, taxa)
    case NTNB => NtnB.pu(i.vna, NtnB.cotacao(liq, i.venc, taxa))
  }

  /** One instrument revaluation: settle at D+1, count business days,
    * read the curve, price, solve the rate back from that price, and take
    * the duration.
    */
  def revalue(day: TradeDay, i: Instrument): Reval = {
    val liq = BrCalendar.deslocar(i.trade, 1)
    val du = BrCalendar.contar(liq, i.venc)
    val rate = day.curve.interpolar(du)
    i.kind match {
      case LTN =>
        val taxa = Num.normalizarTaxa(rate + i.spread)
        val pu = price(i, liq, taxa)
        Reval(liq, du, taxa, pu, Ltn.taxa(liq, i.venc, pu), Ltn.duration(liq, i.venc))
      case NTNF =>
        val taxa = Num.normalizarTaxa(rate + i.spread)
        val pu = price(i, liq, taxa)
        Reval(liq, du, taxa, pu, NtnF.taxa(liq, i.venc, pu), NtnF.duration(liq, i.venc, taxa))
      case NTNB =>
        val taxa = Num.normalizarTaxa(rate - NtnbWedge + i.spread)
        val pu = price(i, liq, taxa)
        Reval(liq, du, taxa, pu, NtnB.taxa(liq, i.venc, i.vna, pu), NtnB.duration(liq, i.venc, taxa))
    }
  }

  def bootstrap(day: TradeDay): Seq[Bootstrap.ZeroVertex] =
    Bootstrap.ntnbTaxasZero(day.liq, day.ntnbVencs, day.ntnbTaxas, incluirCupons = true)

  /** Invariants of one revaluation; None if all hold. The round trip is
    * checked at STN truncation: the rate solved back from the truncated
    * PU must reprice to that same PU (it need not equal the input rate,
    * because several 8-place rates can share one 6-place price).
    */
  def check(i: Instrument, r: Reval): Option[String] = {
    val hops = BrCalendar.contar(i.trade, r.liq)
    if (hops != 1) Some(s"contar(d, deslocar(d, 1)) = $hops")
    else if (!(r.pu > 0) || r.pu.isInfinite) Some(s"pu(${r.taxa}) = ${r.pu}")
    else if (price(i, r.liq, r.taxaBack) != r.pu)
      Some(s"pu(taxa(${r.pu})) = ${price(i, r.liq, r.taxaBack)} (taxa ${r.taxa} -> ${r.taxaBack})")
    else if (!(r.duration > 0) || r.duration.isInfinite) Some(s"duration = ${r.duration}")
    else None
  }

  /** BootstrapSpec's invariants: the first zero equals its IRR and every
    * input bond reprices from the zeros within the 6-place truncation.
    */
  def checkBootstrap(day: TradeDay, zeros: Seq[Bootstrap.ZeroVertex]): Option[String] = {
    val byDate = zeros.map(v => v.dataVencimento -> v.taxaZero).toMap
    if (math.abs(byDate(day.ntnbVencs.head) - day.ntnbTaxas.head) >= 1e-12)
      return Some(s"${day.trade}: first zero != IRR")
    day.ntnbVencs.zip(day.ntnbTaxas).collectFirst(Function.unlift { case (venc, tir) =>
      val fluxos = NtnB.fluxosCaixa(day.liq, venc)
      val pv = Bonds.calcularPv(fluxos.map(_._2), fluxos.map(f => byDate(f._1)),
        fluxos.map(f => BrCalendar.contar(day.liq, f._1) / 252.0))
      val alvo = NtnB.cotacao(day.liq, venc, tir)
      if (math.abs(pv - alvo) < 2e-6) None else Some(s"${day.trade} $venc: $pv vs $alvo")
    })
  }

  private def d(s: String) = LocalDate.parse(s)

  /** Goldens pinned in CalendarSpec, CurveSpec and BondsSpec (values from
    * the reference's doctests): (name, computed, expected).
    */
  def goldens(): Seq[(String, Any, Any)] = {
    val ff = new Interpolador(Seq(30L, 60L, 90L), Seq(0.045, 0.05, 0.055), "flat_forward")
    Seq(
      ("contar 2023-12-15..2024-01-01", BrCalendar.contar(d("2023-12-15"), d("2024-01-01")), 10L),
      ("contar 2024-01-01..2025-01-01", BrCalendar.contar(d("2024-01-01"), d("2025-01-01")), 253L),
      ("contar 2024-11-20..2024-11-21", BrCalendar.contar(d("2024-11-20"), d("2024-11-21")), 0L),
      ("contar 2023-01-08..2023-01-01", BrCalendar.contar(d("2023-01-08"), d("2023-01-01")), -5L),
      ("eh_dia_util 2023-12-25", BrCalendar.ehDiaUtil(d("2023-12-25")), false),
      ("eh_dia_util 2023-12-22", BrCalendar.ehDiaUtil(d("2023-12-22")), true),
      ("deslocar 2023-12-29 +5", BrCalendar.deslocar(d("2023-12-29"), 5), d("2024-01-08")),
      ("deslocar 2024-09-28 +1", BrCalendar.deslocar(d("2024-09-28"), 1), d("2024-10-01")),
      ("deslocar 2023-12-23 -0", BrCalendar.deslocar(d("2023-12-23"), 0, rollForward = false), d("2023-12-22")),
      ("interpolar linear 45", new Interpolador(Seq(30L, 60L, 90L), Seq(0.045, 0.05, 0.055), "linear")(45), 0.0475),
      ("interpolar flat_forward 60", ff(60), 0.05),
      ("interpolar flat_forward 15", ff(15), 0.045),
      ("LTN pu", Ltn.pu(d("2024-07-05"), d("2030-01-01"), 0.12145), 535.279902),
      ("LTN taxa", Ltn.taxa(d("2008-05-21"), d("2010-07-01"), 753.3), 0.14361101),
      ("NTN-F pu", NtnF.pu(d("2024-07-05"), d("2035-01-01"), 0.11921), 895.359254),
      ("NTN-F taxa", NtnF.taxa(d("2026-03-13"), d("2035-01-01"), 820.995125), 0.142743),
      ("NTN-B cotacao", NtnB.cotacao(d("2024-05-31"), d("2035-05-15"), 0.061490), 0.993651),
      ("NTN-B pu", NtnB.pu(4299.160173, 0.993651), 4271.864805),
      ("NTN-B taxa", NtnB.taxa(d("2024-05-31"), d("2035-05-15"), 4299.160173, 4271.864805), 0.06149003),
      ("NTN-B duration", NtnB.duration(d("2024-08-23"), d("2060-08-15"), 0.061005), 15.08305431313046))
  }

  /** Number of golden mismatches, each reported on stderr. */
  def failedGoldens(): Seq[String] =
    goldens().collect { case (name, got, want) if got != want => s"$name: got $got, want $want" }
}
