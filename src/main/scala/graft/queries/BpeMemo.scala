package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.text.Bpe

/** The TRAINED tokenizer vocabulary (w, cnt, syms) at the board-wide
  * merge budget [[BpeMemo.K]], materialized once per (session, sfDir)
  * — the artifact a production pipeline stores after tokenizer
  * training and reads on every corpus refresh. Training rides the
  * pinned words table ([[GramMemo.words]], same normalize), runs the
  * bounded K-round driver loop (`Bpe.learn` — each round is one
  * vocabulary-sized pair aggregate + a 1-row argmax, golden-pinned in
  * BpeSpec), and the result is vocabulary-sized: the apply consumers
  * (q169) broadcast it back onto the corpus, because tokenizing the
  * VOCAB once and joining beats folding the merges over every word
  * INSTANCE by the corpus/vocab ratio (~10^3 at 100 TB).
  */
object BpeMemo {

  /** Merge budget: small enough that the unrolled DuckDB oracle stays
    * readable, large enough that multi-character symbols (the es/est/
    * est</w> chains) form and the apply is a real segmentation.
    */
  val K = 10

  def vocab(s: SparkSession, d: String): DataFrame =
    Artifacts.BpeVocab(s, d)(
      Bpe.learnFromWords(GramMemo.words(s, d), "words", K)._2)
}
