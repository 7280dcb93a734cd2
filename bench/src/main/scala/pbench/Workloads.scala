package pbench

/** The benchmark's workloads. README.md says why each was chosen. */
object Workloads {

  val ScalarPricing = "scalar_pricing"
  val CurationLineage = "curation_lineage"
  /** The workloads BENCHMARK.json lists. */
  val All: Seq[String] = Seq(ScalarPricing, CurationLineage)

  /** Dedup, similarity and text queries: task CPU, shuffle and codegen. */
  val CurationQueries: Seq[String] = Seq(
    "q31_minhash_signature", "q32_lsh_candidate_pairs", "q33_simhash",
    "q34_ngram_jaccard", "q38_text_quality", "q43_simhash_hamming_pairs",
    "q46_embedding_neardup", "q50_neardup_clusters", "q61_minhash_estimate",
    "q63_neardup_apply", "q76_incremental_dedup", "q79_passage_dedup",
    "q94_prefix_jaccard_pairs", "q108_incremental_clusters",
    "q136_dedup_agreement", "q148_lsh_recall")

  /** The curation queries whose memo `graft.Bench.clearProducerMemo`
    * clears before every repetition (one `case` there each).
    */
  val Producers: Set[String] = Set("q38_text_quality",
    "q43_simhash_hamming_pairs", "q46_embedding_neardup",
    "q50_neardup_clusters", "q94_prefix_jaccard_pairs")

  /** Queries that read an artifact a producer above publishes. */
  val Consumers: Set[String] = Set("q61_minhash_estimate",
    "q63_neardup_apply", "q136_dedup_agreement", "q148_lsh_recall")

  private val q50 = "q50_neardup_clusters"

  /** Must-run-before edges. q50's clear empties every ClusterMemo cache,
    * so every other ClusterMemo reader runs after it; otherwise whether
    * a reader pays for an artifact build would depend on the seed. The
    * other edges put each producer ahead of its consumers.
    */
  val CurationAfter: Map[String, Set[String]] = Map(
    "q43_simhash_hamming_pairs" -> Set(q50),
    "q61_minhash_estimate" -> Set(q50),
    "q63_neardup_apply" -> Set(q50),
    "q76_incremental_dedup" -> Set(q50),
    "q94_prefix_jaccard_pairs" -> Set(q50),
    "q108_incremental_clusters" -> Set(q50),
    "q136_dedup_agreement" ->
      Set(q50, "q43_simhash_hamming_pairs", "q38_text_quality"),
    "q148_lsh_recall" -> Set(q50, "q94_prefix_jaccard_pairs"))
}
