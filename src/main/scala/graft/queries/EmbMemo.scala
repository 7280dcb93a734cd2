package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session-scoped memo for the EMBEDDING near-dup pair table — the
  * [[ClusterMemo]]/[[GramMemo]] pattern applied to the embedding-modality
  * family: q46 (the pair table itself), q54 (clusters over it), q69
  * (leakage-safe split over those clusters) and q116 (graph centrality
  * over the same edges) all run the identical sketch → Hamming-ball →
  * exact-cosine-verify lineage at threshold [[Threshold]]. A production
  * pipeline stores its verified edge list once and derives clustering,
  * splits and centrality from the stored artifact — it never re-sketches
  * the embedding corpus per consumer.
  *
  * q46 is the PRODUCER ([[Artifacts.EmbPairs]]): its timed repeats keep
  * measuring the sketch+verify computation; consumers measure the
  * marginal cost after the artifact exists.
  * [[pairsPlan]] stays public so PlanShapeSpec can gate the candidate
  * plan shape (equi-joins only) that the memoized checkpoint would hide.
  */
object EmbMemo {

  /** Board-wide cosine threshold of the embedding near-dup family. */
  val Threshold = 0.2

  /** Trained k-means centroid row ([[Pipeline15.kmeansCentroidRow]]),
    * memoized once per (session, sfDir). Store-only
    * ([[Artifacts.KmeansCents]]): without a store the lazy plan is kept
    * (kmeansCentroidRow pins its own state). Its producers are q46 and
    * q118; the consumer q119 reads the warm artifact (a vector store
    * trains cells once and serves many searches).
    */
  def kmeansCents(s: SparkSession, d: String): DataFrame =
    Artifacts.KmeansCents(s, d)(Pipeline15.kmeansCentroidRow(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      "vec_id", "embedding"))

  /** The un-memoized pair lineage: (id_a, id_b, hamming, sim). */
  def pairsPlan(s: SparkSession, d: String): DataFrame =
    graft.sim.Similarity.nearDupPairs(
      Tables.embeddings(s, d).select(col("vec_id"), col("embedding")),
      threshold = Threshold)

  /** Verified pair table, materialized once per (session, sfDir). */
  def pairs(s: SparkSession, d: String): DataFrame =
    Artifacts.EmbPairs(s, d)(pairsPlan(s, d))
}
