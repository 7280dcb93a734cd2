package graft.queries

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The declared session artifacts of the curation surface and their one
  * cache, keyed by (artifact, session identity, sfDir, parameters).
  *
  * Each artifact is declared exactly once below with its store name
  * (`*` marks a parameter, filled in order), its pin and the PRODUCER
  * queries whose timed repeat must rebuild it. The memo objects
  * ([[ClusterMemo]], [[GramMemo]], ...) keep the accessors and build
  * plans; this object owns caching, pinning and clearing. Bench clears
  * `clearProducedBy(query)` before every repeat of a query, so a
  * producer measures the production computation while its consumers
  * measure the marginal cost after it ran (the reuse studied in EDBT
  * 2020, *Incremental Based Framework for Efficient Top-K Similarity
  * Search in Interactive Data Analysis Sessions*).
  */
object Artifacts {

  /** How a built artifact is held for the session. */
  sealed trait Pin
  /** [[ArtifactStore.loadOrBuild]] with an eager pin: for artifacts the
    * first consuming plan references more than once.
    */
  case object Eager extends Pin
  /** [[ArtifactStore.loadOrBuild]] with a lazy pin, filled by the first
    * consuming job.
    */
  case object Lazy extends Pin
  /** Persisted when a store is configured; otherwise the plan itself is
    * memoized unpinned.
    */
  case object StoreOnly extends Pin
  /** The builder's own value, never stored: a driver-side value, or a
    * frame that pins itself.
    */
  case object Value extends Pin

  final class Artifact private[Artifacts] (
      val name: String, val pin: Pin, val producers: Set[String]) {

    /** The store name with each `*` replaced by the next parameter. */
    def storeName(params: Any*): String = {
      val parts = name.split("\\*", -1)
      require(parts.length == params.length + 1,
        s"$name takes ${parts.length - 1} parameters")
      parts.tail.zip(params).foldLeft(parts.head) {
        case (n, (part, p)) => s"$n$p$part"
      }
    }

    /** The session value, built by `v` on a miss. */
    def memo[V](s: SparkSession, d: String, params: Any*)(v: => V): V =
      cache.getOrElseUpdate((this, System.identityHashCode(s), d, params),
        v).asInstanceOf[V]

    /** `build` held by this artifact's pin. */
    def pinned(s: SparkSession, d: String, params: Any*)
              (build: => DataFrame): DataFrame = pin match {
      case Eager | Lazy =>
        ArtifactStore.loadOrBuild(s, d, storeName(params: _*),
          eager = pin == Eager)(build)
      case StoreOnly if ArtifactStore.dirOf(s).isDefined =>
        ArtifactStore.loadOrBuild(s, d, storeName(params: _*))(build)
      case StoreOnly | Value => build
    }

    /** The memoized, pinned frame. */
    def apply(s: SparkSession, d: String, params: Any*)
             (build: => DataFrame): DataFrame =
      memo(s, d, params: _*)(pinned(s, d, params: _*)(build))

    override def toString: String = name
  }

  private val cache = TrieMap.empty[(Artifact, Int, String, Seq[Any]), Any]
  private val declared = ArrayBuffer.empty[Artifact]

  private def declare(name: String, pin: Pin, producers: String*): Artifact = {
    val a = new Artifact(name, pin, producers.toSet)
    declared += a
    a
  }

  private val Q38 = "q38_text_quality"
  private val Q43 = "q43_simhash_hamming_pairs"
  private val Q46 = "q46_embedding_neardup"
  private val Q50 = "q50_neardup_clusters"
  private val Q80 = "q80_contamination_fraction"
  private val Q93 = "q93_bm25_topk"
  private val Q94 = "q94_prefix_jaccard_pairs"
  private val Q118 = "q118_kmeans_lloyd"
  private val Q122 = "q122_winnow_fingerprints"

  // ClusterMemo: q50 rebuilds the whole near-dup lineage, so every
  // ClusterMemo reader measured after q50 pays the same builds
  val ScoredPairs = declare("scored_pairs", Lazy, Q50)
  val Clusters = declare("clusters_t*", Lazy, Q50)
  val CorpusLabels = declare("corpus_labels_t*_m*", Eager, Q50)
  val CorpusBandIndex = declare("corpus_band_index_v2_m*", Eager, Q50)
  val IncrDocArtifacts = declare("incr_doc_artifacts_v2_m*", Eager, Q50)
  val SimhashSigs = declare("simhash_sigs_w*", Eager, Q50, Q43)
  val SimhashSigPairs = declare("simhash_sigpairs_w*d*", Lazy, Q50, Q43)
  val ExactPairs = declare("exact_pairs", Lazy, Q50, Q94)
  // GramMemo
  val Words = declare("words", Lazy)
  val Winnow = declare("winnow", StoreOnly, Q122)
  val WinnowStats = declare("winnow_stats", Lazy, Q122)
  val LeakGrams = declare("leak_grams", Eager, Q80)
  val ContamStats = declare("contam_stats", Lazy, Q80)
  // EmbMemo
  val EmbPairs = declare("emb_pairs", Lazy, Q46)
  val KmeansCents = declare("kmeans_cents", StoreOnly, Q46, Q118)
  // FeatureMemo, RetrievalMemo
  val DocFeatures = declare("doc_features", Lazy, Q38)
  val Bm25Scores = declare("bm25_scores", Lazy, Q93)
  // LmMemo, BpeMemo
  val TrigramCounts = declare("trigram_counts", Lazy)
  val TrigramModelCollected = declare("trigram_model_collected", Value)
  val BpeVocab = declare("bpe_vocab", Lazy)

  /** Every declared artifact, in declaration order. */
  val All: Seq[Artifact] = declared.toSeq

  /** The artifacts a repeat of `query` must rebuild. */
  def producedBy(query: String): Seq[Artifact] = All.filter(_.producers(query))

  /** Drops every cached value of the artifacts `query` produces. */
  def clearProducedBy(query: String): Unit = {
    val cleared = producedBy(query).toSet
    cache.keys.filter(k => cleared(k._1)).foreach(cache.remove)
  }

  /** Drops every cached value: a fresh session. */
  def clearAll(): Unit = cache.clear()
}
