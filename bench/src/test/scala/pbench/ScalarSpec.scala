package pbench

import org.scalatest.funsuite.AnyFunSuite
import Scalar._

class ScalarSpec extends AnyFunSuite {

  test("same seed, same portfolio and op order; another seed, other inputs") {
    assert(generate(11) == generate(11))
    assert(generate(11) != generate(12))
    val days = generate(11)
    assert(ScalarRun.ops(days, 11) == ScalarRun.ops(days, 11))
    assert(ScalarRun.ops(days, 11) != ScalarRun.ops(days, 12))
  }

  test("the portfolio has the declared shape") {
    val days = generate(5)
    assert(days.length == Days)
    assert(days.map(_.trade).distinct.length == Days)
    days.foreach { d =>
      assert(Seq(LTN, NTNF, NTNB).map(k => d.instruments.count(_.kind == k)) == Seq.fill(3)(PerKind))
      assert(d.vertices.length == 7 && d.ntnbVencs.nonEmpty)
      assert(d.instruments.forall(i => i.venc.isAfter(d.liq)))
    }
  }

  test("op order visits every instrument once per sweep, day by day") {
    val days = generate(5)
    val seq = ScalarRun.ops(days, 5)
    assert(seq.length == days.map(_.instruments.length).sum)
    assert(seq.map(_._1) == seq.map(_._1).sorted)
    assert(seq.distinct.length == seq.length)
  }

  test("the pinned goldens hold") {
    assert(failedGoldens().isEmpty)
  }

  test("every revaluation and bootstrap of a seed passes its invariants") {
    for (seed <- Seq(1L, 2L)) {
      val days = generate(seed)
      days.foreach { d =>
        d.instruments.foreach(i => assert(check(i, revalue(d, i)).isEmpty, i))
        assert(checkBootstrap(d, bootstrap(d)).isEmpty, d.trade)
      }
    }
  }

  test("a wrong price fails the round-trip invariant") {
    val d = generate(3).head
    val i = d.instruments.find(_.kind == NTNF).get
    val r = revalue(d, i)
    assert(check(i, r.copy(taxaBack = r.taxaBack + 1e-4)).isDefined)
    assert(check(i, r.copy(duration = Double.NaN)).isDefined)
  }
}
