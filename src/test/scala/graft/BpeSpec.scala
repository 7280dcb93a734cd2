package graft

import org.apache.spark.sql.functions._
import graft.text.Bpe

/** BPE learner semantics on the classic Sennrich corpus
  * (low×5, lower×2, newest×6, widest×3): the merge sequence is fully
  * determined by the weighted pair counts with lexicographic
  * tie-breaks, so the golden below is hand-computable.
  */
class BpeSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, Seq.fill(5)("low").mkString(" ")),
    (1L, Seq.fill(2)("lower").mkString(" ")),
    (2L, Seq.fill(6)("newest").mkString(" ")),
    (3L, Seq.fill(3)("widest").mkString(" "))).toDF("doc_id", "text")

  test("learns the hand-computed merge sequence with lexicographic ties") {
    // round 1 pair counts peak at 9 for (e,s), (s,t), (t,</w>) — the
    // lexicographic tie-break must pick (e,s); then (es,t) at 9 beats
    // (t,</w>)'s leftover; then (est,</w>) at 9
    val (merges, vocab) = Bpe.learn(docs, "text", 3)
    assert(merges == Seq(("e", "s"), ("es", "t"), ("est", "</w>")))
    val syms = vocab.collect()
      .map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(syms("newest") == Seq("n", "e", "w", "est</w>"))
    assert(syms("widest") == Seq("w", "i", "d", "est</w>"))
    assert(syms("low") == Seq("l", "o", "w", "</w>"))
  }

  test("merge fold is greedy left-to-right and non-overlapping") {
    val d = Seq((0L, "aaa")).toDF("doc_id", "text")
      .select(Bpe.initSymbols(col("text")).as("syms"))
    val merged = d.select(Bpe.mergePair(col("syms"), "a", "a").as("m"))
      .head().getSeq[String](0)
    // a a a </w> -> (aa) a </w>, never (a aa): position 0-1 merges
    // first and the result cannot re-consume its right half
    assert(merged == Seq("aa", "a", "</w>"))
  }

  test("stops before learning noise (no pair repeats)") {
    val d = Seq((0L, "ab cd")).toDF("doc_id", "text")
    val (merges, _) = Bpe.learn(d, "text", 10)
    assert(merges.isEmpty, "all pairs have count 1 -> nothing to learn")
  }

  test("encodeWord applies merges in rank order — true-OOV golden") {
    // 'lowest' is NOT in the training corpus; the fold must still
    // produce the trained subwords: l o w e s t </w> → (e,s) → (es,t)
    // → (est,</w>) yields l o w est</w>
    val merges = Seq(("e", "s"), ("es", "t"), ("est", "</w>"))
    val enc = Seq(Tuple1("lowest")).toDF("w")
      .select(Bpe.encodeWord(col("w"), merges).as("e"))
      .head().getSeq[String](0)
    assert(enc == Seq("l", "o", "w", "est</w>"))
  }

  test("corpus-wide: the OOV fold equals the trained vocab segmentation") {
    // the q169 contract: for every word the training saw, the unrolled
    // merge fold (the out-of-vocab path) and the trained vocab lookup
    // (the in-vocab fast path) are the same tokenizer
    val (merges, vocab) = Bpe.learnFromWords(
      graft.queries.GramMemo.words(spark, "/root/testdata/sf0.001"),
      "words", graft.queries.BpeMemo.K)
    val bad = vocab
      .select(col("syms"), Bpe.encodeWord(col("w"), merges).as("e"))
      .filter(not(col("syms") === col("e"))).count()
    assert(bad == 0, s"$bad vocab words disagree with the merge fold")
  }
}
