package graft

import java.time.LocalDate
import org.scalatest.funsuite.AnyFunSuite
import graft.bonds._

/** STN pricing goldens transcribed from the reference doctests
  * (pyield/tpf/titulos/{ltn,ntnf,ntnb,lft}.py).
  */
class BondsSpec extends AnyFunSuite {

  private def d(s: String): LocalDate = LocalDate.parse(s)

  test("LTN pu goldens (ltn.py:135-142)") {
    assert(Ltn.pu(d("2024-07-05"), d("2030-01-01"), 0.12145) == 535.279902)
    assert(Ltn.pu(d("2008-05-21"), d("2010-07-01"), 0.143600009) == 753.315323)
  }

  test("LTN taxa goldens (ltn.py:183-189)") {
    assert(Ltn.taxa(d("2024-07-05"), d("2030-01-01"), 535.279902) == 0.12145)
    assert(Ltn.taxa(d("2026-03-13"), d("2027-01-01"), 895.563913) == 0.148307)
    assert(Ltn.taxa(d("2008-05-21"), d("2010-07-01"), 753.3) == 0.14361101)
  }

  test("LTN dv01 golden (ltn.py:273-276)") {
    val pu = Ltn.pu(d("2025-03-26"), d("2032-01-01"), 0.150970)
    assert(Ltn.dv01(d("2025-03-26"), d("2032-01-01"), 0.150970, pu)
      == 0.2269059999999794)
  }

  test("NTN-F flows golden (ntnf.py:238-252)") {
    val fluxos = NtnF.fluxosCaixa(d("2024-05-15"), d("2027-01-01"))
    assert(fluxos.map(_._1) == Seq("2024-07-01", "2025-01-01", "2025-07-01",
      "2026-01-01", "2026-07-01", "2027-01-01").map(d))
    assert(fluxos.map(_._2) == Seq(48.80885, 48.80885, 48.80885, 48.80885,
      48.80885, 1048.80885))
  }

  test("NTN-F pu goldens (ntnf.py:331-337)") {
    assert(NtnF.pu(d("2024-07-05"), d("2035-01-01"), 0.11921) == 895.359254)
    assert(NtnF.pu(d("2024-07-01"), d("2027-01-01"), 0.10) == 999.931303)
    assert(NtnF.pu(d("2008-05-21"), d("2014-01-01"), 0.136600009) == 903.075616)
  }

  test("NTN-F taxa goldens (ntnf.py:1001-1007)") {
    assert(NtnF.taxa(d("2026-03-13"), d("2035-01-01"), 820.995125) == 0.142743)
    assert(NtnF.taxa(d("2008-05-21"), d("2014-01-01"), 903.039091) == 0.13661101)
  }

  test("NTN-B cotacao goldens (ntnb.py:285-296)") {
    assert(NtnB.cotacao(d("2024-05-31"), d("2035-05-15"), 0.061490) == 0.993651)
    assert(NtnB.cotacao(d("2024-05-31"), d("2060-08-15"), 0.061878) == 0.995341)
    assert(NtnB.cotacao(d("2024-08-15"), d("2032-08-15"), 0.05929) == 1.006409)
    assert(NtnB.cotacao(d("2024-05-15"), d("2025-05-15"), 0.10) == 0.964454)
    assert(NtnB.cotacao(d("2008-05-21"), d("2010-08-15"), 0.082900009) == 0.970813)
  }

  test("NTN-B pu goldens (ntnb.py:346-352)") {
    assert(NtnB.pu(4299.160173, 0.993651) == 4271.864805)
    assert(NtnB.pu(4315.498383, 1.006409) == 4343.156412)
    assert(NtnB.pu(1728.4611369, 0.9708139) == 1678.01254)
  }

  test("NTN-B taxa goldens (ntnb.py:885-891)") {
    assert(NtnB.taxa(d("2024-05-31"), d("2035-05-15"), 4299.160173, 4271.864805)
      == 0.06149003)
    assert(NtnB.taxa(d("2024-08-15"), d("2032-08-15"), 4315.498383, 4343.156412)
      == 0.05929003)
    assert(NtnB.taxa(d("2008-05-21"), d("2010-08-15"), 1728.461136, 1781.867128)
      == 0.0523457)
  }

  test("NTN-B duration + dv01 goldens (ntnb.py:731-735,808-812)") {
    assert(NtnB.duration(d("2024-08-23"), d("2060-08-15"), 0.061005)
      == 15.08305431313046)
    val cot = NtnB.cotacao(d("2025-03-26"), d("2060-08-15"), 0.074358)
    val pu = NtnB.pu(4470.979474, cot)
    assert(NtnB.dv01(d("2025-03-26"), d("2060-08-15"), 0.074358, pu)
      == 4.640876692897651)
  }

  test("LFT cotacao goldens (lft.py:131-147)") {
    assert(Lft.cotacao(d("2024-07-24"), d("2030-09-01"), 0.001717) == 0.989645)
    assert(Lft.cotacao(d("2008-05-21"), d("2014-03-07"), -0.000200009) == 1.001158)
  }

  test("LFT taxa goldens (lft.py:187-194)") {
    assert(Lft.taxa(d("2024-07-24"), d("2030-09-01"), 15785.324502, 15621.867466)
      == 0.00171691)
    assert(Lft.taxa(d("2024-07-24"), d("2025-03-01"), 15785.324502, 15774.132706)
      == 0.00115966)
    assert(Lft.taxa(d("2008-05-21"), d("2014-03-07"), 3451.215345, 3426.649594)
      == 0.00123443)
  }

  test("NTN-F duration + dv01 goldens (ntnf.py:850-856,924-930)") {
    assert(NtnF.duration(d("2024-09-02"), d("2035-01-01"), 0.121785)
      == 6.32854218039796)
    val pu = NtnF.pu(d("2025-03-26"), d("2035-01-01"), 0.151375)
    assert(NtnF.dv01(d("2025-03-26"), d("2035-01-01"), 0.151375, pu)
      == 0.3902520000000325)
  }

  test("NTN-C cotacao/pu goldens incl. the 2031 12% coupon rule (ntnc.py:251-254,309-310)") {
    assert(NtnC.cotacao(d("2025-03-21"), d("2031-01-01"), 0.067626) == 1.264958)
    assert(NtnC.cotacao(d("2008-05-21"), d("2011-03-01"), 0.069000009) == 0.990981)
    assert(NtnC.pu(6598.913723, 1.264958) == 8347.348705)
  }

  // Values computed by the schedule-per-evaluation implementation that
  // preceded the once-per-call schedules; they pin that rewrite.
  test("NTN-C cotacao, LFT taxa and NTN-F/NTN-B dv01 pinned values") {
    assert(NtnC.cotacao(d("2024-06-03"), d("2031-01-01"), 0.0712) == 1.29327)
    assert(NtnC.cotacao(d("2019-05-02"), d("2021-04-01"), 0.041) == 1.038713)
    assert(NtnC.cotacao(d("2010-03-15"), d("2017-07-01"), 0.0585) == 1.020929)
    assert(Lft.taxa(d("2025-01-10"), d("2029-03-01"), 15900.123456, 15870.5)
      == 0.00045456)
    assert(Lft.taxa(d("2019-09-02"), d("2020-03-01"), 10250.654321, 10251.2)
      == -0.00010886)
    assert(Lft.taxa(d("2012-02-14"), d("2017-03-07"), 5120.5, 5100.987654)
      == 0.00075713)
    val f1 = NtnF.pu(d("2024-07-05"), d("2035-01-01"), 0.11921)
    assert(NtnF.dv01(d("2024-07-05"), d("2035-01-01"), 0.11921, f1)
      == 0.5215720000000301)
    val f2 = NtnF.pu(d("2010-02-01"), d("2013-01-01"), 0.1184)
    assert(f2 == 966.47574)
    assert(NtnF.dv01(d("2010-02-01"), d("2013-01-01"), 0.1184, f2)
      == 0.2222869999999458)
    val b1 = NtnB.pu(4299.160173,
      NtnB.cotacao(d("2024-05-31"), d("2035-05-15"), 0.061490))
    assert(NtnB.dv01(d("2024-05-31"), d("2035-05-15"), 0.061490, b1)
      == 3.2759600517786427)
    val b2 = NtnB.pu(2510.5,
      NtnB.cotacao(d("2014-10-20"), d("2024-08-15"), 0.0611))
    assert(b2 == 2521.99809)
    assert(NtnB.dv01(d("2014-10-20"), d("2024-08-15"), 0.0611, b2)
      == 1.7749234999999544)
  }

  test("LFT rentabilidade golden (lft.py:220-225)") {
    assert(Lft.rentabilidade(0.001124, 0.13967670224373396)
      == 1.008594331960501)
  }

  test("calcular_pv golden (_utils.py:227-233)") {
    val pv = Bonds.calcularPv(Seq(100, 100, 1100), Seq(0.08, 0.08, 0.08),
      Seq(1.0, 2.0, 3.0))
    assert(math.abs(pv - 1051.54) < 0.005)
    assert(Bonds.calcularPv(Nil, Nil, Nil) == 0.0)
  }
}
