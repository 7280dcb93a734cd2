package graft

import org.apache.spark.sql.functions._
import graft.queries.Pipeline15

/** Batch fifteen: PMI collocation arithmetic on a planted fixture (q114),
  * vocabulary-coverage breakpoints on a known distribution (q115), and
  * PageRank invariants on hand graphs (q116).
  */
class Pipeline15Spec extends SparkSuite {
  private def wordsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("words"))
  }

  test("q114 core: planted collocation outranks a frequent independent pair") {
    // hand-counted: unigrams x=3 y=3 a=4 b=4 (nw=14); bigrams (np=12):
    // (x,y)=3 (y,a)=3 (a,b)=3 (b,x)=2 (b,a)=1. "x y" rides rarer
    // marginals than "a b", so PMI ranks it higher at equal pair count.
    val rows = Seq(
      1L -> "x y a b x y a",
      2L -> "b x y a b a b")
    val out = Pipeline15.pmiCollocations(wordsDf(rows), minCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    val nw = 14.0; val np = 12.0
    def pmi(cab: Long, ca: Long, cb: Long) =
      BigDecimal(math.log((cab / np) / ((ca / nw) * (cb / nw))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(("x", "y")) == ((3L, pmi(3, 3, 3))))
    assert(out(("a", "b")) == ((3L, pmi(3, 4, 4))))
    // equal support, rarer marginals → strictly higher PMI
    assert(out(("x", "y"))._2 > out(("a", "b"))._2)
  }

  test("q114 core: minCount floor drops rare pairs, order is pmi desc") {
    val rows = Seq(1L -> "x y a b x y a", 2L -> "b x y a b a b")
    val pairs = Pipeline15.pmiCollocations(wordsDf(rows), minCount = 3L)
      .collect().map(r => (r.getString(0), r.getString(1)))
    // (b,x)=2 and (b,a)=1 fall under the floor; survivors by pmi desc
    assert(pairs.toSeq == Seq(("x", "y"), ("y", "a"), ("a", "b")))
  }

  test("q115 core: coverage breakpoints on a known head/tail distribution") {
    import spark.implicits._
    // lang "en": counts w1=8, w2=1, w3=1 (total 10) → v50 at rank 1
    // (8 >= 5), v90 at rank 2 (9 >= 9), v99 at rank 3 (10 >= 9.9)
    val docs = Seq(
      ("en", ("w1 " * 8 + "w2 w3").trim),
      ("de", "a b")).toDF("lang", "text")
    val out = Pipeline15.vocabCoverage(docs)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    assert(out("en") == ((10L, 3L, 1L, 2L, 3L)))
    // uniform two-word lang: v50 needs 1 word, v90/v99 need both
    assert(out("de") == ((2L, 2L, 1L, 2L, 2L)))
  }

  private def graphDf(nodes: Seq[Long], edges: Seq[(Long, Long)]) = {
    import spark.implicits._
    (nodes.toDF("id"), edges.toDF("id_a", "id_b"))
  }

  test("q116 core: star hub dominates leaves; isolated keeps teleport mass") {
    val (nodes, edges) = graphDf(Seq(0L, 1L, 2L, 3L, 4L, 9L),
      Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)))
    val out = Pipeline15.pagerank(nodes, edges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    val n = 6.0
    // isolated node: no in-edges ever → exactly the teleport term
    assert(out(9L) == ((0L, BigDecimal(0.15 / n)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(out(0L)._1 == 4L)
    // hub collects all four leaves' full mass each step → strictly above
    // every leaf, leaves all equal by symmetry
    assert(out(0L)._2 > out(1L)._2)
    assert(Seq(2L, 3L, 4L).forall(l => out(l) == out(1L)))
  }

  test("q116 core: symmetric pair reaches the uniform fixed point") {
    // two mutually-linked nodes: pr stays exactly 1/2 each iteration
    val (nodes, edges) = graphDf(Seq(1L, 2L), Seq((1L, 2L)))
    val out = Pipeline15.pagerank(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(1L) == 0.5 && out(2L) == 0.5)
  }

  test("q117 core: axis-aligned data recovers the axis and its eigenvalue") {
    import spark.implicits._
    // points ±3, ±1 along dim 1 of 4 (mean 0): rank-1 scatter, so power
    // iteration is exact after one step — v = e1, λ = Σx² = 20
    val emb = Seq(
      (1L, Seq(3f, 0f, 0f, 0f)), (2L, Seq(-3f, 0f, 0f, 0f)),
      (3L, Seq(1f, 0f, 0f, 0f)), (4L, Seq(-1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Pipeline15.pcaTopComponent(emb, "vec_id", "embedding", dim = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(out.map(_._2).toSeq == Seq(1.0, 0.0, 0.0, 0.0))
    assert(out.forall(_._3 == 20.0))
  }

  test("q117 core: orientation makes the largest-|loading| dim positive") {
    import spark.implicits._
    // collinear points t·(0.6, −0.8), t ∈ {±1, ±2}: the direction's
    // biggest component is dim 2 — orientation must emit (−0.6, 0.8),
    // never (0.6, −0.8); λ = Σt² = 10
    val emb = Seq(
      (1L, Seq(0.6f, -0.8f)), (2L, Seq(-0.6f, 0.8f)),
      (3L, Seq(1.2f, -1.6f)), (4L, Seq(-1.2f, 1.6f)))
      .toDF("vec_id", "embedding")
    val out = Pipeline15.pcaTopComponent(emb, "vec_id", "embedding", dim = 2)
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    assert(out.map(_._1).toSeq == Seq(-0.6, 0.8))
    assert(out.forall(_._2 == 10.0))
  }

  test("q118 core: two planted blobs converge to exact means and inertia") {
    import spark.implicits._
    // seeds (0,0) and (10,10); each blob has 3 points → means
    // (1/3, 1/3) and (31/3, 31/3) rounded to 6dp, per-blob inertia
    // 2·(1/3)² + 2·((1/3)² + (2/3)²) computed against the ROUNDED mean
    val emb = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(10f, 10f)),
      (2L, Seq(0f, 1f)), (3L, Seq(1f, 0f)),
      (4L, Seq(10f, 11f)), (5L, Seq(11f, 10f)))
      .toDF("vec_id", "embedding")
    val out = Pipeline15.kmeansLloyd(emb, "vec_id", "embedding",
        k = 2, iters = 3, dim = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((0L, 3L, 1.3333), (1L, 3L, 1.3333)))
  }

  test("q118 core: an equidistant point breaks ties to the smaller id") {
    import spark.implicits._
    // (1,0) is exactly between seeds (0,0) and (2,0) → cluster 0; the
    // updated mean (0.5, 0) then holds it
    val emb = Seq(
      (0L, Seq(0f, 0f)), (1L, Seq(2f, 0f)), (2L, Seq(1f, 0f)))
      .toDF("vec_id", "embedding")
    val out = Pipeline15.kmeansLloyd(emb, "vec_id", "embedding",
        k = 2, iters = 1, dim = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((0L, 2L, 0.5), (1L, 1L, 0.0)))
  }

  test("q120 core: labels walk a chain one hop per round; isolated stays null") {
    import spark.implicits._
    // seed(1,label 7) - 2 - 3 - 4 and isolated 9: after 3 rounds the
    // label reaches node 4; 9 never votes
    val nodes = Seq((1L, 7L, true), (2L, 0L, false), (3L, 0L, false),
      (4L, 0L, false), (9L, 0L, false)).toDF("id", "label", "is_seed")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val out = Pipeline15.labelPropagation(nodes, edges)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(out(1L).contains(7L) && out(2L).contains(7L) &&
      out(3L).contains(7L) && out(4L).contains(7L))
    assert(out(9L).isEmpty)
  }

  test("q120 core: tie votes resolve to the smaller label") {
    import spark.implicits._
    // node 3 hears label 5 (from seed 1) and label 2 (from seed 2) with
    // one vote each → takes 2
    val nodes = Seq((1L, 5L, true), (2L, 2L, true), (3L, 0L, false))
      .toDF("id", "label", "is_seed")
    val edges = Seq((1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Pipeline15.labelPropagation(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(3L) == 2L)
  }

  test("q120 core: majority beats minority; seeds never flip") {
    import spark.implicits._
    // node 5 neighbors three label-1 seeds and one label-0 seed → 1;
    // the label-0 seed keeps its own label even though its only
    // neighbor disagrees
    val nodes = Seq((1L, 1L, true), (2L, 1L, true), (3L, 1L, true),
      (4L, 0L, true), (5L, 9L, false)).toDF("id", "label", "is_seed")
    val edges = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L))
      .toDF("id_a", "id_b")
    val out = Pipeline15.labelPropagation(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(5L) == 1L)
    assert(out(4L) == 0L)
  }

  test("q116 core: rank mass is conserved on a dangling-free graph") {
    // triangle: symmetric, no dangling nodes → Σpr = 1 at every step
    val (nodes, edges) = graphDf(Seq(1L, 2L, 3L),
      Seq((1L, 2L), (2L, 3L), (1L, 3L)))
    val prs = Pipeline15.pagerank(nodes, edges)
      .collect().map(_.getDouble(2))
    // symmetric fixed point 1/3 each (rounded to 6); rounded mass ≈ 1
    assert(prs.forall(_ == 0.333333))
  }
}
