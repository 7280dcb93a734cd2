package graft

import graft.queries.Pipeline18

/** Batch eighteen: closed-form repetition fractions on planted word
  * ladders (q134) and the greedy MMR fold on a hand sim matrix (q135).
  */
class Pipeline18Spec extends SparkSuite {
  test("q134 core: planted repetition — exact dup/top gram fractions") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq("a", "a", "a", "a")), // g2 = 3x "a a", g3 = 2x "a a a"
      (2L, Seq("a", "b", "c", "d")), // all grams distinct
      (3L, Seq("x"))) // sub-n doc: one clamped gram
      .toDF("doc_id", "words")
    val m = Pipeline18.repetitionMetrics(rows).collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))
    }.toMap
    // doc 1: dup2 = 1 - 1/3, top2 = 3/3, dup3 = 1 - 1/2 → repetitive
    assert(m(1L) == ((4L, 3L, 0.666667, 1.0, 0.5, 1L)))
    // doc 2: dup fractions 0; top2 = 1/3 trips the top-gram threshold
    // on such a short doc (the flag is a composite; the FRACTIONS are
    // the contract here)
    assert(m(2L)._3 == 0.0 && m(2L)._5 == 0.0)
    assert(m(2L)._4 == 0.333333)
    // doc 3: one clamped gram each — fractions 0, top = 1
    assert(m(3L) == ((1L, 1L, 0.0, 1.0, 0.0, 1L)))
  }

  test("q135 core: greedy MMR fold — relevance vs redundancy trade") {
    // rel: 1 ≻ 2 ≻ 3 ≻ 4; doc 2 nearly duplicates doc 1 (sim .9),
    // doc 4 nearly duplicates doc 2 (.8); doc 3 is far from everything
    val rel = Seq(1L -> 10.0, 2L -> 9.0, 3L -> 8.0, 4L -> 7.0)
    val sims = Map(
      (1L, 2L) -> 0.9, (2L, 1L) -> 0.9,
      (1L, 3L) -> 0.1, (3L, 1L) -> 0.1,
      (1L, 4L) -> 0.2, (4L, 1L) -> 0.2,
      (2L, 3L) -> 0.3, (3L, 2L) -> 0.3,
      (2L, 4L) -> 0.8, (4L, 2L) -> 0.8,
      (3L, 4L) -> 0.4, (4L, 3L) -> 0.4)
    val out = Pipeline18.mmrSelect(rel, sims, k = 3, lambda = 0.7)
    // step 1: doc 1 (0.7·10); step 2: doc 2 wins 6.03 over doc 3's
    // 5.57; step 3: doc 3 (5.51) over doc 4 (4.66) — DuckDB-validated
    assert(out == Seq((1L, 1L, 10.0, 7.0), (2L, 2L, 9.0, 6.03),
      (3L, 3L, 8.0, 5.51)))
  }

  test("q135: a negative max-sim REWARDS anti-correlated picks " +
    "(no zero floor)") {
    val rel = Seq(1L -> 10.0, 2L -> 9.0)
    val sims = Map((1L, 2L) -> -0.5, (2L, 1L) -> -0.5)
    val out = Pipeline18.mmrSelect(rel, sims, k = 2, lambda = 0.7)
    // doc 2's penalty term is -0.3·(-0.5) = +0.15 on top of 6.3
    assert(out == Seq((1L, 1L, 10.0, 7.0), (2L, 2L, 9.0, 6.45)))
  }
}
