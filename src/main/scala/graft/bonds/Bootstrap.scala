package graft.bonds

import java.time.LocalDate
import graft.core.{BrCalendar, Num}
import graft.curve.Interpolador

/** Sequential zero-curve bootstraps (D5/D6; reference
  * /root/reference/pyield/tpf/titulos/ntnb.py:391-578 and ntnf.py:342-518).
  * Inherently sequential driver loops over <= a few hundred vertices —
  * distribution would only add shuffles (SURVEY §7 risk 7).
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
    val ordered = vencimentos.zip(taxas).sortBy(_._1)
    val vencs = ordered.map(_._1)
    val interp = new Interpolador(
      vencs.map(v => BrCalendar.contar(liq, v)),
      ordered.map(_._2), "flat_forward")

    // The semiannual payment dates of grid(i) are grid(i-2), grid(i-4), ...
    // (subtrairMeses keeps the day), so every schedule below reads the
    // grid by index.
    val grid = Bonds.gerarDatasPagamento(liq, vencs.last, intervaloMeses = 3).toArray
    val n = grid.length
    val dias = grid.map(d => BrCalendar.contar(liq, d))
    val anos = dias.map(_ / 252.0)
    val anosTrunc = anos.map(Num.truncar(_, 14))
    val zeros = new Array[Double](n)

    val primeiro = vencs.head
    var i = 0
    while (i < n) {
      val tir = interp(dias(i))
      if (!grid(i).isAfter(primeiro)) {
        zeros(i) = tir
      } else {
        // PV of the SEMIANNUAL coupons before this maturity, discounted at
        // the zero rates already solved on the grid; then the synthetic
        // NTN-B's cotacao over the same dates plus its maturity.
        var pvCupons = 0.0
        var soma = 0.0
        val t = Num.normalizarTaxa(tir)
        var j = i % 2
        while (j < i) {
          pvCupons += NtnB.ValorCupom / math.pow(1 + zeros(j), anos(j))
          soma += Num.roundPolars(NtnB.ValorCupom / math.pow(1 + t, anosTrunc(j)), 12)
          j += 2
        }
        soma += Num.roundPolars(NtnB.ValorFinal / math.pow(1 + t, anosTrunc(i)), 12)
        val preco = Num.truncar(soma, 6)
        val fator = NtnB.ValorFinal / (preco - pvCupons)
        zeros(i) = math.pow(fator, 1 / anos(i)) - 1
      }
      i += 1
    }

    val all = grid.indices.map(i => ZeroVertex(grid(i), dias(i), zeros(i)))
    if (incluirCupons) all else all.filter(v => vencs.contains(v.dataVencimento))
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
    val interpLtn = new Interpolador(
      vencimentosLtn.map(v => BrCalendar.contar(liq, v)), taxasLtn,
      "flat_forward")
    val interpNtnf = new Interpolador(
      vencimentosNtnf.map(v => BrCalendar.contar(liq, v)), taxasNtnf,
      "flat_forward")
    val ultimoLtn = vencimentosLtn.max
    val ultimoNtnf = vencimentosNtnf.max

    // Every semiannual payment date to the last NTN-F maturity is a grid
    // point; each one past the LTN range is solved as a SYNTHETIC NTN-F
    // with its interpolated IRR (ntnf.py:440-505).
    val grid = Bonds.gerarDatasPagamento(liq, ultimoNtnf, intervaloMeses = 6)
    val spot = scala.collection.mutable.LinkedHashMap[LocalDate, Double]()

    grid.foreach { venc =>
      val du = BrCalendar.contar(liq, venc)
      if (!venc.isAfter(ultimoLtn)) {
        spot(venc) = interpLtn(du)
      } else {
        val tir = interpNtnf(du)
        val datasFluxo = Bonds.gerarDatasPagamento(liq, venc, 6).dropRight(1)
        if (datasFluxo.isEmpty) {
          // reference guard (ntnf.py:486-492): no prior coupons -> null
          // vertex (NaN here), cascading into later bonds' PV sums
          spot(venc) = Double.NaN
        } else {
          val pvCupons = Bonds.calcularPv(
            datasFluxo.map(_ => NtnF.ValorCupom),
            datasFluxo.map(spot(_)),
            datasFluxo.map(d => BrCalendar.contar(liq, d) / 252.0))
          val preco = NtnF.pu(liq, venc, tir)
          val fator = NtnF.ValorFinal / (preco - pvCupons)
          spot(venc) = math.pow(fator, 1 / (du / 252.0)) - 1
        }
      }
    }

    val all = grid.map { v =>
      ZeroVertex(v, BrCalendar.contar(liq, v), spot(v))
    }
    if (incluirCupons) all
    else all.filter(v => vencimentosNtnf.contains(v.dataVencimento))
  }
}
