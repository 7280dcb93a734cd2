package graft

import org.apache.spark.sql.functions._
import graft.queries.Pipeline14

/** Batch fourteen: duplicate-span detection (q112) run arithmetic on a
  * planted fixture, and per-source KL drift (q113) against hand-computed
  * distributions.
  */
class Pipeline14Spec extends SparkSuite {
  private def wordsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("words"))
  }

  test("q112 core: a planted 12-word shared span yields run 5 → span 12") {
    // docs 1 and 2 share words 0..11 of doc 1 (12 words), then diverge:
    // overlapping 8-grams duplicated at positions 0..4 (run of 5),
    // witnessing a span of 5 + 8 - 1 = 12 words.
    val span = (1 to 12).map(i => s"s$i").mkString(" ")
    val rows = Seq(
      1L -> (span + " a1 a2 a3 a4 a5 a6 a7 a8"),
      2L -> (span + " b1 b2 b3 b4 b5 b6 b7 b8"),
      3L -> (1 to 20).map(i => s"u$i").mkString(" "), // unique, no dups
      4L -> "short doc under eight words here")       // < 8 words: 0 grams
    val out = Pipeline14.dupSpansOfWords(wordsDf(rows))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // doc 1/2: 20 words → 13 grams, 5 dup positions, span 12, not long
    assert(out(1L) == ((13L, 5L, 12L, 0L)))
    assert(out(2L) == ((13L, 5L, 12L, 0L)))
    assert(out(3L) == ((13L, 0L, 0L, 0L)))
    assert(out(4L) == ((0L, 0L, 0L, 0L)))
  }

  test("q112 core: a fully-copied 30-word doc flags is_longdup") {
    val text = (1 to 30).map(i => s"c$i").mkString(" ")
    val out = Pipeline14.dupSpansOfWords(wordsDf(Seq(1L -> text, 2L -> text)))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // 30 words → 23 grams all duplicated: run 23 → span 30 ≥ 20
    assert(out(1L) == ((23L, 23L, 30L, 1L)))
    assert(out(2L) == ((23L, 23L, 30L, 1L)))
  }

  test("q112 core: within-doc repetition alone is not a cross-doc dup") {
    // one doc that repeats its own 10-word block; no other doc shares it
    val block = (1 to 10).map(i => s"r$i").mkString(" ")
    val out = Pipeline14.dupSpansOfWords(
        wordsDf(Seq(1L -> (block + " " + block),
                    2L -> (1 to 20).map(i => s"z$i").mkString(" "))))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(1L) == 0L && out(2L) == 0L)
  }

  test("q112 on sf0.001: invariants hold and planted dups are found") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        split(graft.text.TextOps.normalize(col("text")), " ").as("words"))
    val out = Pipeline14.dupSpansOfWords(docs)
    val n = docs.count()
    assert(out.count() == n) // every doc exactly once
    assert(out.filter(col("n_dup_grams") > col("n_grams")).isEmpty)
    assert(out.filter(col("max_span_words") > lit(0) &&
      col("max_span_words") < lit(8)).isEmpty) // span ≥ gram width
    // the synthetic corpus plants near-duplicates; some must surface
    assert(out.filter(col("is_longdup") === 1).count() > 0)
  }

  test("q113 core: identical word distributions give KL = 0") {
    import spark.implicits._
    val docs = Seq(
      ("a", "x y z x"), ("a", "y z"),
      ("b", "x x y y z z")).toDF("source", "text")
    val out = Pipeline14.sourceKl(docs)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(out("a") == ((6L, 0.0)) && out("b") == ((6L, 0.0)))
  }

  test("q113 core: hand-computed KL for a skewed source") {
    import spark.implicits._
    // src a: 3×x 1×y; src b: 1×x 3×y. corpus: x=4/8, y=4/8.
    // KL(a‖c) = .75·ln(.75/.5) + .25·ln(.25/.5)
    val docs = Seq(("a", "x x x y"), ("b", "x y y y")).toDF("source", "text")
    val exp = BigDecimal(0.75 * math.log(1.5) + 0.25 * math.log(0.5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = Pipeline14.sourceKl(docs)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out("a") == exp && out("b") == exp) // symmetric construction
  }
}
