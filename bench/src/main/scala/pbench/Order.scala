package pbench

import scala.util.Random

/** Seeded query order within a pass.
  *
  * `after(q)` names the queries that must run before `q` in every pass.
  * Kahn's algorithm picks uniformly among the queries whose predecessors
  * have all run, so each pass is a seeded random linear extension of the
  * declared order. Predecessors outside the pass are ignored.
  */
object Order {

  def pass(names: Seq[String], after: Map[String, Set[String]],
           rng: Random): Seq[String] = {
    val inPass = names.toSet
    val preds = names.map(n =>
      n -> after.getOrElse(n, Set.empty).intersect(inPass)).toMap
    val done = scala.collection.mutable.LinkedHashSet[String]()
    // iterate in the caller's order so the draw depends only on the seed
    var left = names.toVector
    while (left.nonEmpty) {
      val ready = left.filter(n => preds(n).subsetOf(done))
      require(ready.nonEmpty, s"cyclic order among ${left.mkString(", ")}")
      val pick = ready(rng.nextInt(ready.length))
      done += pick
      left = left.filterNot(_ == pick)
    }
    done.toSeq
  }

  /** Pass orders for one run: pass 0 is the verification pass, later ones
    * are timed. Same seed, same orders.
    */
  def passes(names: Seq[String], after: Map[String, Set[String]],
             seed: Long): Iterator[Seq[String]] = {
    val rng = new Random(seed)
    Iterator.continually(pass(names, after, rng))
  }
}
