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
    val anosTrunc = dias.map(Bonds.anosTruncados)
    val zeros = new Array[Double](n)
    // PV of grid(i)'s semiannual coupons before it, at the zero rates
    // already solved: the same-parity sum of the earlier points, left to right
    val pvCupons = new Array[Double](n)

    val primeiro = vencs.head
    var i = 0
    while (i < n) {
      if (i >= 2)
        pvCupons(i) = pvCupons(i - 2) + NtnB.ValorCupom / math.pow(1 + zeros(i - 2), anos(i - 2))
      val tir = interp(dias(i))
      zeros(i) =
        if (!grid(i).isAfter(primeiro)) tir
        else {
          val preco = cotacaoGrade(anosTrunc, i, 2, tir, NtnB.ValorCupom, NtnB.ValorFinal, 12)
          math.pow(NtnB.ValorFinal / (preco - pvCupons(i)), 1 / anos(i)) - 1
        }
      i += 1
    }

    val all = grid.indices.map(i => ZeroVertex(grid(i), dias(i), zeros(i)))
    if (incluirCupons) all else all.filter(v => vencs.contains(v.dataVencimento))
  }

  /** cotacao of the synthetic bond maturing at grid point i that pays
    * `cupom` at points i - passo, i - 2·passo, ... down to 0 and
    * `valorFinal` at i: trunc6(Σ roundPolars(v/(1+t)^anosTrunc(j), casas))
    * at the normalized rate t, summed in payment order.
    */
  private def cotacaoGrade(anosTrunc: Array[Double], i: Int, passo: Int, taxa: Double,
                           cupom: Double, valorFinal: Double, casas: Int): Double = {
    val t = Num.normalizarTaxa(taxa)
    var soma = 0.0
    var j = i % passo
    while (j < i) {
      soma += Num.roundPolars(cupom / math.pow(1 + t, anosTrunc(j)), casas)
      j += passo
    }
    soma += Num.roundPolars(valorFinal / math.pow(1 + t, anosTrunc(i)), casas)
    Num.truncar(soma, 6)
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
    // with its interpolated IRR (ntnf.py:440-505), whose coupons fall on
    // the earlier grid points.
    val grid = Bonds.gerarDatasPagamento(liq, ultimoNtnf, intervaloMeses = 6).toArray
    val n = grid.length
    val dias = grid.map(d => BrCalendar.contar(liq, d))
    val anos = dias.map(_ / 252.0)
    val anosTrunc = dias.map(Bonds.anosTruncados)
    val spot = new Array[Double](n)
    // PV of the coupons before grid(i) at the spot rates already solved
    val pvCupons = new Array[Double](n)

    var i = 0
    while (i < n) {
      if (i >= 1)
        pvCupons(i) = pvCupons(i - 1) + NtnF.ValorCupom / math.pow(1 + spot(i - 1), anos(i - 1))
      spot(i) =
        if (!grid(i).isAfter(ultimoLtn)) interpLtn(dias(i))
        // reference guard (ntnf.py:486-492): no prior coupons -> null
        // vertex (NaN here), cascading into later bonds' PV sums
        else if (i == 0) Double.NaN
        else {
          val preco = cotacaoGrade(anosTrunc, i, 1, interpNtnf(dias(i)),
            NtnF.ValorCupom, NtnF.ValorFinal, 9)
          math.pow(NtnF.ValorFinal / (preco - pvCupons(i)), 1 / anos(i)) - 1
        }
      i += 1
    }

    val all = grid.indices.map(i => ZeroVertex(grid(i), dias(i), spot(i)))
    if (incluirCupons) all
    else all.filter(v => vencimentosNtnf.contains(v.dataVencimento))
  }
}
