package graft

import org.apache.spark.sql.functions._
import graft.text.Bpe

/** Batched BPE training (judge directive r9-#3): the production merge
  * budget (32k–100k merges) cannot run one Spark job per merge — the
  * batched learner applies up to `m` symbol-disjoint merges per
  * pair-count round. The spec contract, in order of importance:
  * batch=1 IS the sequential Sennrich learner (the q169 oracle's
  * semantics, unchanged), the disjointness selection is exactly the
  * documented greedy rule, and a production-shaped budget (K=200,
  * m=16) trains in a bounded number of rounds while preserving the
  * learner's own self-consistency invariant (the trained vocab equals
  * the merge fold re-applied from scratch).
  */
class BpeBatchSpec extends SparkSuite {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  test("batch=1 reproduces the sequential learner exactly") {
    // the Sennrich golden corpus: the sequential merge sequence is
    // hand-computed in BpeSpec; the batched learner at batch=1 must
    // walk the identical path (one merge per round, same ranking, same
    // lexicographic tie-breaks) — this is what keeps the q169 oracle
    // and every golden green while the batched path exists
    val docs = Seq(
      (0L, Seq.fill(5)("low").mkString(" ")),
      (1L, Seq.fill(2)("lower").mkString(" ")),
      (2L, Seq.fill(6)("newest").mkString(" ")),
      (3L, Seq.fill(3)("widest").mkString(" "))).toDF("doc_id", "text")
    val words = docs.select(
      split(graft.text.TextOps.normalize(col("text")), " ").as("w"))
    // the anchor is a HAND-COMPUTED literal, not Bpe.learn's output:
    // learn delegates to learnBatched(batch=1), so comparing the two
    // would put the code under test on both sides of the assert and a
    // batch=1 regression (e.g. a ranking-path tie-break change) would
    // move both identically. Pair counts: (e,s)=(s,t)=(t,</w>)=9 from
    // newest×6+widest×3, (l,o)=(o,w)=7 from low×5+lower×2 — three
    // 9-count ties resolved lexicographically.
    val expected = Seq(("e", "s"), ("es", "t"), ("est", "</w>"))
    val (seqMerges, _) = Bpe.learn(docs, "text", 3)
    assert(seqMerges == expected,
      "sequential learner must walk the hand-computed Sennrich path")
    val batched = Bpe.learnBatched(words, "w", 3, batch = 1)
    assert(batched.merges == expected)
    assert(batched.batches.forall(_.size == 1),
      "batch=1 must learn exactly one merge per round")
  }

  test("selectBatch admits by rank and skips symbol conflicts") {
    // (e,s) admitted; (s,t) shares s -> skipped; (t,</w>) disjoint ->
    // admitted; (a,b) disjoint -> admitted
    val picked = Bpe.selectBatch(
      Seq(("e", "s"), ("s", "t"), ("t", "</w>"), ("a", "b")), 16)
    assert(picked == Seq(("e", "s"), ("t", "</w>"), ("a", "b")))
    // the cap binds after admissions, not candidates
    assert(Bpe.selectBatch(
      Seq(("e", "s"), ("s", "t"), ("t", "</w>"), ("a", "b")), 2) ==
      Seq(("e", "s"), ("t", "</w>")))
  }

  test("selectBatch closes the merged-output aliasing hole") {
    // ("a","b") admitted produces "ab"; a later pair consuming the
    // string "ab" would act on symbols the fold just created, not on
    // the round-start adjacencies it was ranked on -> rejected
    assert(Bpe.selectBatch(
      Seq(("a", "b"), ("ab", "c"), ("c", "d")), 16) ==
      Seq(("a", "b"), ("c", "d")))
    // symmetric: a pair whose OUTPUT collides with an admitted symbol
    // is rejected (("x","y") then ("a","b") with a+b == "x" would let
    // the earlier-applied merge's symbol reappear mid-fold)
    assert(Bpe.selectBatch(
      Seq(("xy", "z"), ("x", "y"), ("p", "q")), 16) ==
      Seq(("xy", "z"), ("p", "q")))
  }

  test("K=200 / m=16 trains in bounded rounds on the corpus words") {
    val t = Bpe.learnBatched(
      graft.queries.GramMemo.words(spark, d), "words", 200, batch = 16)
    // every batch obeys the disjointness rule it was selected under:
    // the symbol SETS of distinct pairs never intersect (a self-pair
    // like (g,g) contributes the set {g, gg} — duplication within one
    // pair is fine, sharing across pairs is not)
    for (batch <- t.batches) {
      val sets = batch.map { case (a, b) => Set(a, b, a + b) }
      for (i <- sets.indices; j <- (i + 1) until sets.size)
        assert((sets(i) & sets(j)).isEmpty,
          s"batch pairs share symbols: ${batch(i)} vs ${batch(j)}")
    }
    assert(t.merges.size == t.merges.distinct.size, "merges must be unique")
    assert(t.merges.size >= 100,
      s"corpus should support >= 100 count-justified merges, " +
        s"got ${t.merges.size}")
    // THE directive's point — the driver loop must shrink ~m-fold, not
    // stay one-job-per-merge: 200 merges in at most ~K/3 rounds (the
    // early all-single-char rounds admit fewer than 16 disjoint pairs;
    // conflicts re-rank next round)
    assert(t.rounds.toDouble <= t.merges.size / 3.0,
      s"batching must cut rounds ~m-fold: ${t.merges.size} merges " +
        s"took ${t.rounds} rounds")
  }

  test("batched training stays self-consistent with the merge fold") {
    // re-applying the flattened merge sequence from scratch reproduces
    // the trained vocab (per-round folds composed == one flat fold).
    // Checked at a bounded budget: encodeWord statically unrolls
    // |merges| nested aggregate() HOFs, which is the right shape for
    // the bounded merge lists it serves (q169's OOV path) and blows
    // the analyzer's resolution-iteration cap near ~200 — production
    // corpus tokenization is the vocab JOIN, never a 32k-deep fold
    val t = Bpe.learnBatched(
      graft.queries.GramMemo.words(spark, d), "words", 40, batch = 8)
    assert(t.rounds < t.merges.size, "batching must actually batch")
    val bad = t.vocab
      .select(col("syms"), Bpe.encodeWord(col("w"), t.merges).as("e"))
      .filter(not(col("syms") === col("e"))).count()
    assert(bad == 0, s"$bad vocab words disagree with the merge fold")
  }
}
