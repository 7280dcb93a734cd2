package pbench

import org.scalatest.funsuite.AnyFunSuite
import Workloads._

class OrderSpec extends AnyFunSuite {

  private def passes(seed: Long, n: Int) =
    Order.passes(CurationQueries, CurationAfter, seed).take(n).toList

  test("same seed, same pass orders; another seed, other orders") {
    assert(passes(7, 5) == passes(7, 5))
    assert(passes(7, 5) != passes(8, 5))
  }

  test("every pass runs each query exactly once, in a new order") {
    val ps = passes(3, 4)
    ps.foreach(p => assert(p.sorted == CurationQueries.sorted))
    assert(ps.distinct.length == ps.length)
  }

  test("producers run before their consumers in every pass") {
    for (seed <- 0L until 200L; p <- passes(seed, 2)) {
      val at = p.zipWithIndex.toMap
      CurationAfter.foreach { case (q, preds) =>
        preds.foreach(pre => assert(at(pre) < at(q), s"seed $seed: $pre after $q in $p"))
      }
    }
  }

  test("every consumer has a producer predecessor; producers are curation queries") {
    Consumers.foreach(q => assert(CurationAfter(q).exists(Producers), q))
    assert((Producers ++ Consumers ++ CurationAfter.keySet).subsetOf(CurationQueries.toSet))
  }

  test("a cyclic order is rejected") {
    assertThrows[IllegalArgumentException](
      Order.pass(Seq("a", "b"), Map("a" -> Set("b"), "b" -> Set("a")), new scala.util.Random(1)))
  }
}
