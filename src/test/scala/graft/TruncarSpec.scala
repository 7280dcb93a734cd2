package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Num

/** `Num.truncar` (double-only fast path plus BigDecimal fallback) returns
  * exactly `BigDecimal.valueOf(x).setScale(d, DOWN).doubleValue()`: random
  * doubles over every magnitude, and the inputs where a shortcut would slip
  * (d-place decimals and their neighbours, signs and zeros, non-finite
  * values, the year fractions du/252, d outside 0..15).
  */
class TruncarSpec extends AnyFunSuite {

  private def referencia(x: Double, d: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else JBigDecimal.valueOf(x).setScale(d, RoundingMode.DOWN).doubleValue()

  private def igual(x: Double, d: Int): Boolean =
    java.lang.Double.doubleToLongBits(Num.truncar(x, d)) ==
      java.lang.Double.doubleToLongBits(referencia(x, d))

  private def falhas(xs: Iterable[(Double, Int)]): Seq[String] =
    xs.iterator.filterNot { case (x, d) => igual(x, d) }.take(10)
      .map { case (x, d) => s"truncar($x, $d) = ${Num.truncar(x, d)}, want ${referencia(x, d)}" }
      .toSeq

  /** A double of any magnitude the pricing code sees, or of any bit pattern. */
  private val umDouble: Gen[Double] = Gen.frequency(
    3 -> Gen.choose(-20.0, 17.0).flatMap(e =>
      Gen.choose(1.0, 10.0).map(m => m * math.pow(10, e))),
    2 -> Gen.choose(-1e4, 1e4),
    1 -> Gen.long.map(java.lang.Double.longBitsToDouble),
    // a d-place decimal, or a neighbour of one
    2 -> (for {
      d <- Gen.choose(0, 15)
      k <- Gen.choose(0L, 1L << 52)
      passo <- Gen.choose(-3, 3)
    } yield {
      var x = k / math.pow(10, d)
      var p = passo
      while (p > 0) { x = math.nextUp(x); p -= 1 }
      while (p < 0) { x = math.nextDown(x); p += 1 }
      x
    }))

  private val casas: Gen[Int] = Gen.frequency(10 -> Gen.choose(0, 15), 1 -> Gen.choose(-3, 20))

  test("random doubles: 10^6 bit-equal to BigDecimal truncation (ScalaCheck)") {
    val lote = Gen.listOfN(1000, Gen.zip(umDouble, casas))
    var n = 0L
    val prop = Prop.forAll(lote) { xs =>
      n += xs.length
      val f = falhas(xs)
      if (f.nonEmpty) println(f.mkString("\n"))
      f.isEmpty
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(1000), prop)
    assert(res.passed, res.status.toString)
    assert(n >= 1000000L)
  }

  test("d-place decimals k/10^d and their nextUp/nextDown, both signs") {
    val rng = new scala.util.Random(7)
    val xs = for {
      d <- 0 to 15
      k <- (0L to 2000L) ++ Seq.fill(2000)(rng.nextLong() >>> (12 + rng.nextInt(50)))
      x0 = k / math.pow(10, d)
      x <- Seq(x0, math.nextUp(x0), math.nextDown(x0))
      s <- Seq(1.0, -1.0)
    } yield (s * x, d)
    val f = falhas(xs)
    assert(f.isEmpty, f.mkString("\n"))
  }

  test("zeros, signs and non-finite values pass through as BigDecimal does") {
    val especiais = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue, -Double.MinPositiveValue,
      java.lang.Double.MIN_NORMAL, Double.MaxValue, -Double.MaxValue,
      -0.001, -0.5, -1.0, -1e-20, 4503599627370496.0, 4503599627370495.5)
    val f = falhas(for (x <- especiais; d <- -3 to 20) yield (x, d))
    assert(f.isEmpty, f.mkString("\n"))
    assert(java.lang.Double.doubleToLongBits(Num.truncar(-0.0, 6)) ==
      java.lang.Double.doubleToLongBits(0.0))
    assert(java.lang.Double.doubleToLongBits(Num.truncar(-0.0000001, 6)) ==
      java.lang.Double.doubleToLongBits(0.0))
    assert(Num.truncar(Double.NaN, 6).isNaN)
  }

  test("du/252 for every du in 0..15120 at 14 places (and at 0..15)") {
    val f14 = falhas((0 to 15120).map(du => (du / 252.0, 14)))
    assert(f14.isEmpty, f14.mkString("\n"))
    val f = falhas(for (du <- 0 to 15120 by 7; d <- 0 to 15) yield (du / 252.0, d))
    assert(f.isEmpty, f.mkString("\n"))
  }

  test("decimals outside 0..15 take the BigDecimal path") {
    val rng = new scala.util.Random(11)
    val xs = for {
      d <- (-5 to -1) ++ (16 to 25)
      _ <- 0 until 2000
    } yield ((rng.nextDouble() - 0.5) * math.pow(10, rng.nextInt(30) - 10), d)
    val f = falhas(xs)
    assert(f.isEmpty, f.mkString("\n"))
  }

  test("the year-fraction table holds trunc14(du/252) for every du it covers") {
    val t = graft.bonds.Bonds.Anos14
    assert(t.length > 27000)
    val f = t.indices.iterator.filterNot(du =>
      java.lang.Double.doubleToLongBits(t(du)) ==
        java.lang.Double.doubleToLongBits(Num.truncar(du / 252.0, 14)))
      .take(10).map(du => s"du $du: table ${t(du)}, truncar ${Num.truncar(du / 252.0, 14)}").toSeq
    assert(f.isEmpty, f.mkString("\n"))
    assert(graft.bonds.Bonds.anosTruncados(t.length.toLong) == Num.truncar(t.length / 252.0, 14))
  }

  test("a 6-place quote in [0, 10] is its own trunc6: every k/10^6, k in 0..10^7") {
    var k = 0
    var erros = List.empty[String]
    while (k <= 10000000) {
      val x = k / 1e6
      if (x != JBigDecimal.valueOf(k.toLong, 6).doubleValue() || Num.truncar(x, 6) != x)
        erros ::= s"k $k: ${Num.truncar(x, 6)}"
      k += 1
    }
    assert(erros.isEmpty, erros.take(10).mkString("\n"))
  }
}
