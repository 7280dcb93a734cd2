package graft.bonds

import java.time.LocalDate
import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{BrCalendar, Num}

/** [[Bootstrap.Grade]]'s certified sum: wherever `cotacaoRapida` decides,
  * it returns the exact loop's double, for the NTN-B grid (step 2, 12
  * places) and the NTN-F grid (step 1, 9 places). Rates are drawn at random
  * and also bisected so that the exact sum lands within 10^-9 of a multiple
  * of 10^-6, where a margin too small would truncate to the wrong side.
  */
class CotacaoRapidaSpec extends AnyFunSuite {

  private def bits(x: Double) = java.lang.Double.doubleToLongBits(x)

  /** A bootstrap grid's business days, as `Bootstrap` builds them. */
  private def dias(liq: LocalDate, fim: LocalDate, meses: Int): Array[Int] =
    Bonds.gerarDatasPagamento(liq, fim, meses).map(d => BrCalendar.contar(liq, d).toInt).toArray

  /** A grid to a maturity on (mes, dia) and its synthetic bond; at most
    * `recuos` of the random rates may fall back (the margin is at most
    * 6·10^-11 for NTN-B and 2.5·10^-8 for NTN-F, against a 10^-6 grid).
    */
  private final case class Caso(nome: String, passo: Int, cupom: Double,
                                valorFinal: Double, casas: Int, meses: Int, anos: Int,
                                mes: Int, dia: Int, recuos: Double)

  private val Casos = Seq(
    Caso("NTN-B", 2, NtnB.ValorCupom, NtnB.ValorFinal, 12, 3, 36, 8, 15, 0.001),
    Caso("NTN-F", 1, NtnF.ValorCupom, NtnF.ValorFinal, 9, 6, 12, 1, 1, 0.1))

  /** The exact loop's sum before trunc6, as `cotacaoExata` adds it up. */
  private def somaExata(c: Caso, du: Array[Int], i: Int, t: Double): Double = {
    var soma = 0.0
    var j = i % c.passo
    while (j <= i) {
      val v = if (j < i) c.cupom else c.valorFinal
      soma += Num.roundPolars(v / math.pow(1 + t, Bonds.anosTruncados(du(j))), c.casas)
      j += c.passo
    }
    soma
  }

  /** Rates at which the exact sum at point i sits just above and just below
    * a multiple of 10^-6: a bisection of the decreasing sum between `t0`
    * and a rate 50 bp higher, toward the multiple below its value at t0.
    */
  private def fronteira(c: Caso, du: Array[Int], i: Int, t0: Double): Seq[Double] = {
    val alvo = math.floor(somaExata(c, du, i, t0) * 1e6) / 1e6
    var (lo, hi) = (t0, t0 + 0.005)
    if (!(somaExata(c, du, i, hi) < alvo)) return Nil
    for (_ <- 0 until 80) {
      val mid = (lo + hi) / 2
      if (somaExata(c, du, i, mid) >= alvo) lo = mid else hi = mid
    }
    Seq(lo, hi).filter(t => math.abs(somaExata(c, du, i, t) - alvo) <= 1e-9)
  }

  for (c <- Casos) test(s"${c.nome}: every decided sum equals the exact loop, at random and bisected rates") {
    val rng = new Random(c.casas)
    // (decided, undecided) of the random and of the bisected rates
    val aleatorios, rentes = Array(0, 0)
    val erros = scala.collection.mutable.ArrayBuffer[String]()
    def comparar(g: Bootstrap.Grade, i: Int, t: Double, n: Array[Int], tag: => String): Unit = {
      val r = g.cotacaoRapida(i, t)
      if (r.isNaN) n(1) += 1
      else {
        n(0) += 1
        val e = g.cotacaoExata(i, t)
        if (bits(r) != bits(e) && erros.length < 20) erros += s"$tag i=$i t=$t: $r vs $e"
      }
    }
    for (_ <- 0 until 40) {
      val liq = BrCalendar.deslocar(LocalDate.of(2005, 1, 3).plusDays(rng.nextInt(365 * 40).toLong), 0)
      val fim = LocalDate.of(liq.getYear + 2 + rng.nextInt(c.anos - 1), c.mes, c.dia)
      val du = dias(liq, fim, c.meses)
      val g = new Bootstrap.Grade(du, c.passo, c.cupom, c.valorFinal, c.casas)
      for (i <- du.indices) {
        for (_ <- 0 until 20) {
          val t = -0.02 + 0.22 * rng.nextDouble()
          comparar(g, i, t, aleatorios, s"$liq random")
          comparar(g, i, Num.normalizarTaxa(t), aleatorios, s"$liq normalized")
        }
        for (t <- fronteira(c, du, i, -0.02 + 0.22 * rng.nextDouble());
             u <- Seq(t, Math.nextUp(t), Math.nextDown(t)))
          comparar(g, i, u, rentes, s"$liq bisected")
      }
    }
    assert(erros.isEmpty, erros.mkString("\n"))
    val resumo = s"random ${aleatorios.mkString("/")}, bisected ${rentes.mkString("/")} (decided/undecided)"
    assert(rentes.sum > 1000, resumo)
    // both outcomes occur
    assert(aleatorios(0) > 0 && rentes(1) > 0, resumo)
    // the fast path must decide nearly every random rate to be worth its cost
    assert(aleatorios(1) <= c.recuos * aleatorios.sum, resumo)
    info(resumo)
  }

  test("NaN, t <= -1 and unbounded discount factors fall back to the exact loop") {
    val liq = LocalDate.of(2024, 8, 16)
    for (c <- Casos) {
      val du = dias(liq, LocalDate.of(2050, c.mes, c.dia), c.meses)
      val g = new Bootstrap.Grade(du, c.passo, c.cupom, c.valorFinal, c.casas)
      val i = du.length - 1
      for (t <- Seq(Double.NaN, -1.0, -1.5, Double.NegativeInfinity, Double.PositiveInfinity, 1e6)) {
        assert(g.cotacaoRapida(i, t).isNaN, s"${c.nome} t=$t")
        assert(bits(g.cotacao(i, t)) == bits(g.cotacaoExata(i, Num.normalizarTaxa(t))), s"${c.nome} t=$t")
      }
      assert(!g.cotacaoRapida(i, 0.06).isNaN, c.nome)
    }
  }
}
