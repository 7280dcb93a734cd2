package graft

import graft.queries.{Artifacts, ClusterMemo, GramMemo}
import graft.queries.Artifacts._

/** The declared artifact registry: the clear set of each producer query
  * is derived from the declarations, so this spec pins the table Bench
  * relies on — a producer measures its build on every repeat, and every
  * other artifact stays warm for the consumers.
  */
class ArtifactsSpec extends SparkSuite {
  private val d = "/root/testdata/sf0.001"

  private val clearTable: Map[String, Set[String]] = Map(
    "q50_neardup_clusters" -> Set("scored_pairs", "clusters_t*",
      "corpus_labels_t*_m*", "corpus_band_index_v2_m*",
      "incr_doc_artifacts_v2_m*", "simhash_sigs_w*", "simhash_sigpairs_w*d*",
      "exact_pairs"),
    "q43_simhash_hamming_pairs" -> Set("simhash_sigs_w*",
      "simhash_sigpairs_w*d*"),
    "q94_prefix_jaccard_pairs" -> Set("exact_pairs"),
    "q46_embedding_neardup" -> Set("emb_pairs", "kmeans_cents"),
    "q118_kmeans_lloyd" -> Set("kmeans_cents"),
    "q122_winnow_fingerprints" -> Set("winnow", "winnow_stats"),
    "q80_contamination_fraction" -> Set("leak_grams", "contam_stats"),
    "q93_bm25_topk" -> Set("bm25_scores"),
    "q38_text_quality" -> Set("doc_features"))

  test("each producer clears exactly its declared artifacts") {
    for ((q, names) <- clearTable)
      assert(producedBy(q).map(_.name).toSet == names, q)
    assert(All.flatMap(_.producers).toSet == clearTable.keySet,
      "the producer set is exactly the nine above")
    assert(producedBy("q61_minhash_estimate").isEmpty)
  }

  test("session-wide artifacts have no producer") {
    for (a <- Seq(Words, TrigramCounts, TrigramModelCollected, BpeVocab))
      assert(a.producers.isEmpty, a.name)
  }

  test("every declared producer is a driver query") {
    val queries = SparkEntry.queries.keySet
    for (a <- All; q <- a.producers)
      assert(queries(q), s"${a.name}: producer $q is not a query")
  }

  test("declarations: store names and pins") {
    assert(Clusters.storeName(0.5) == "clusters_t0.5")
    assert(CorpusLabels.storeName(0.5, 10) == "corpus_labels_t0.5_m10")
    assert(SimhashSigPairs.storeName(17, 3) == "simhash_sigpairs_w17d3")
    assertThrows[IllegalArgumentException](SimhashSigPairs.storeName(17))
    // every store name and pin, in declaration order
    assert(All.map(a => a.name -> a.pin) == Seq(
      "scored_pairs" -> Lazy, "clusters_t*" -> Lazy,
      "corpus_labels_t*_m*" -> Eager, "corpus_band_index_v2_m*" -> Eager,
      "incr_doc_artifacts_v2_m*" -> Eager, "simhash_sigs_w*" -> Eager,
      "simhash_sigpairs_w*d*" -> Lazy, "exact_pairs" -> Lazy,
      "words" -> Lazy, "winnow" -> StoreOnly, "winnow_stats" -> Lazy,
      "leak_grams" -> Eager, "contam_stats" -> Lazy, "emb_pairs" -> Lazy,
      "kmeans_cents" -> StoreOnly, "doc_features" -> Lazy,
      "bm25_scores" -> Lazy, "trigram_counts" -> Lazy,
      "trigram_model_collected" -> Value,
      "bpe_vocab" -> Lazy))
  }

  test("a producer's clear rebuilds its artifacts and keeps the others") {
    Artifacts.clearAll()
    val words = GramMemo.words(spark, d)
    val exact = ClusterMemo.exactPairs(spark, d)
    val pairs = ClusterMemo.scoredPairs(spark, d)
    assert(ClusterMemo.exactPairs(spark, d) eq exact, "a second read hits")
    Bench.clearProducerMemo("q61_minhash_estimate") // a consumer: no-op
    assert(ClusterMemo.exactPairs(spark, d) eq exact)
    Bench.clearProducerMemo("q94_prefix_jaccard_pairs")
    val rebuilt = ClusterMemo.exactPairs(spark, d)
    assert(!(rebuilt eq exact), "q94 rebuilds exact_pairs")
    assert(ClusterMemo.scoredPairs(spark, d) eq pairs,
      "q94 keeps scored_pairs")
    assert(GramMemo.words(spark, d) eq words, "q94 keeps words")
    Bench.clearProducerMemo("q50_neardup_clusters")
    assert(!(ClusterMemo.scoredPairs(spark, d) eq pairs))
    assert(!(ClusterMemo.exactPairs(spark, d) eq rebuilt))
    assert(GramMemo.words(spark, d) eq words, "no producer clears words")
    assert(rebuilt.count() == exact.count())
  }
}
