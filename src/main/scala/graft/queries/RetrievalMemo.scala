package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.text.Retrieval

/** Session-scoped memo for the board's standard BM25 score table — the
  * [[LmMemo]] pattern applied to retrieval: four queries (q93 top-k,
  * q109 fusion's lexical leg, q111's stage-1 feedback retrieval, q129's
  * RBO probe — which needs the leg TWICE) score the identical fixed
  * query ("spark window merge", k1=1.2, b=0.75) against the corpus, and
  * before this memo the per-term score table was computed ~4x per board
  * run. The memoized table is the exact (doc_id, score) output of
  * [[Retrieval.bm25ScoresW]] over the session words artifact — bounded
  * by documents matching a query term, narrow, cheap to pin — so every
  * consumer is hash-identical to its self-computing form; the memo
  * changes WHEN the scores are computed, never what they are. q93 is
  * the declared producer ([[Artifacts.Bm25Scores]]), so q93 measures
  * the retrieval computation and q109/q111/q129 measure the marginal
  * cost a pipeline pays after its retrieval cache is warm.
  */
object RetrievalMemo {

  /** The board's standard query — one definition consumed by q93/q109/
    * q111/q129 and their oracle SQL so the engines cannot drift.
    */
  val Terms: Seq[String] = Seq("spark", "window", "merge")
  val K1: Double = 1.2
  val B: Double = 0.75

  /** The (doc_id, score) BM25 table for [[Terms]], materialized once per
    * (session, sfDir).
    */
  def bm25(s: SparkSession, d: String): DataFrame =
    Artifacts.Bm25Scores(s, d)(
      Retrieval.bm25ScoresW(GramMemo.words(s, d), Terms, K1, B))
}
