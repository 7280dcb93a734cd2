package graft.bonds

import org.scalatest.funsuite.AnyFunSuite
import graft.ScheduleIdentitySpec.Referencia

/** [[OraculoMonotono]] on synthetic step prices: where signs may be
  * inferred, the solve returns Referencia's encontrarRaiz result with fewer
  * evaluations; outside its domain (a subnormal pu0, a price that rises
  * with the rate) it infers nothing, and a stand-in sign would have changed
  * the result.
  */
class OraculoMonotonoSpec extends AnyFunSuite {

  private def bits(x: Double) = java.lang.Double.doubleToLongBits(x)

  /** (result, evaluations of the price) of encontrarRaiz behind the
    * oracle for `pu0` and `vna6`, seeded at `chute` with a unit slope.
    */
  private def resolver(preco: Double => Double, pu0: Double, vna6: Double,
                       chute: Double): (Double, Int) = {
    var n = 0
    val o = new OraculoMonotono(t => { n += 1; preco(t) - pu0 }, pu0, vna6)
    o.sondar(chute, 1.0)
    (Bonds.encontrarRaiz(o), n)
  }

  test("a truncated decreasing price solves to the reference's double in fewer evaluations") {
    val preco = (t: Double) => math.floor(1e6 * 1000 / math.pow(1 + t, 7.3)) / 1e6
    var (n, nRef) = (0, 0)
    for (alvo <- Seq(-0.5, 0.0, 0.0537, 0.1234, 2.5, 9.7)) {
      val pu0 = preco(alvo)
      val ref = Referencia.encontrarRaiz(t => { nRef += 1; preco(t) - pu0 })
      val (r, k) = resolver(preco, pu0, 1.0, alvo)
      n += k
      assert(bits(r) == bits(ref), s"root $alvo")
    }
    assert(2 * n < nRef, s"$n evaluations, reference $nRef")
  }

  test("a subnormal pu0 infers nothing: a stand-in times it would not underflow") {
    // f is 0.5 - pu0 below 3 and -pu0 above: the reference's 0.5 * -pu0
    // underflows to -0.0, so it finds no sign change, while a stand-in +1
    // times -pu0 would
    val preco = (t: Double) => if (t < 3) 0.5 else 0.0
    val pu0 = Double.MinPositiveValue
    val ref = Referencia.encontrarRaiz(t => preco(t) - pu0)
    assert(ref.isNaN)
    assert(bits(resolver(preco, pu0, 1.0, 3.0)._1) == bits(ref))
  }

  test("trunc6(vna) <= 0 infers nothing: the price may rise with the rate") {
    val preco = (t: Double) => -1000 / math.pow(1 + t, 5) + 2000
    val pu0 = preco(0.08)
    val ref = Referencia.encontrarRaiz(t => preco(t) - pu0)
    assert(bits(resolver(preco, pu0, -1.0, 0.08)._1) == bits(ref))
    assert(bits(resolver(preco, pu0, 0.0, 0.08)._1) == bits(ref))
  }
}
