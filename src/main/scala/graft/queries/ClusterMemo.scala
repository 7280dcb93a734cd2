package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.DedupOps

/** Session-scoped memo for the near-dup lineage shared by q50/q61/q63.
  *
  * All three queries run the SAME MinHash → banded-LSH → exact-verify
  * work over the same documents table; standalone they recompute it,
  * which at sf0.1 was ~2.5× the intrinsic cost of the board's clustering
  * family (VERDICT r4/r5) — and a 100 TB pipeline never recomputes a
  * clustering to read its manifest. The shared intermediate is the
  * SCORED CANDIDATE PAIR table (id_a, id_b, est_jaccard, jaccard):
  *
  *   - q61 is that table plus an error column;
  *   - q50/q63's verified edge list is `jaccard >= threshold` over it
  *     (identical pairs + identical rounded Jaccard ⇒ identical edges,
  *     so the memoized q50 is hash-equal to the direct
  *     [[DedupOps.nearDupClusters]] — pinned in DedupClusterSpec);
  *   - the clustering itself is memoized one level up, keyed by
  *     threshold, so q63's manifest reads q50's labels.
  *
  * Entries are [[Artifacts]] declarations, cached per (session identity,
  * sfDir): the first caller materializes, every same-session caller
  * reuses the blocks. Each declaration names the PRODUCER (q50, and q43
  * or q94 for their artifacts) whose timed repeat rebuilds it;
  * consumers (q61/q63) measure the marginal cost a pipeline actually
  * pays after the producer ran.
  */
object ClusterMemo {

  /** Board-wide lineage parameters (q50/q61/q63 all use these). */
  val ShingleK = 5
  val NumHashes = 8
  val RowsPerBand = 2
  val NGram = 3

  /** The exact J ≥ 0.5 prefix-filtered (PPJoin) pair table — q94's
    * RESULT, the provably-complete ground truth q148 audits the banded
    * LSH against; materialized once per (session, sfDir).
    */
  def exactPairs(s: SparkSession, d: String): DataFrame =
    Artifacts.ExactPairs(s, d) {
      DedupOps.prefixJaccardPairsOfWords(
        GramMemo.words(s, d), "doc_id", "words", 0.5)
    }

  /** (width, SimHash sketch table (doc_id, simhash)) — the per-doc
    * signature column a production pipeline STORES (the one corpus
    * scan of the family), materialized once per (session, sfDir).
    *
    * The signature width is CORPUS-ADAPTIVE
    * ([[DedupOps.adaptiveSimhashWidth]]: clamp(16, ceil(log2 n) + 8,
    * 31)) so the induced pair table's n²/2^width background-collision
    * term stays ~n/256 — linear — at any corpus size, instead of the
    * measured 10.4× pair blow-up the fixed 16-bit width paid at ×10
    * sf0.1 (SCALE10's 0.86 exponent). The count
    * that picks the width is one metadata-cheap scan of doc_ids; the
    * DuckDB oracle computes the identical width from `count(*)` with
    * integer-exact ceil-log2 (`length(bin(n-1))`), so engine and
    * oracle mask the same nibble-nested signature to the same width.
    *
    * The width is part of the ARTIFACT KEY, not just the build
    * closure: the store's path is (name, corpus signature), and the
    * r10 fixed-16→adaptive width change altered the table's semantics
    * without changing either — a store populated before the change
    * would serve stale 16-bit sketches forever on an unchanged corpus.
    * Naming the width makes any future (width-rule, corpus-size)
    * change self-invalidating. A pre-bump store's old name dir is NOT
    * pruned (the store prunes superseded corpus sigs under one name,
    * not foreign names) — it sits orphaned, never served; operators
    * reclaim disk by deleting the name dir.
    */
  def simhashSigs(s: SparkSession, d: String): (Int, DataFrame) =
    Artifacts.SimhashSigs.memo(s, d) {
      val w = DedupOps.adaptiveSimhashWidth(
        Tables.documents(s, d).select(col("doc_id")).count())
      // eager: the first consuming plan — the doc-pair derive —
      // references the sketch on BOTH join sides, and a lazy pin would
      // compute the corpus scan twice in that job
      (w, Artifacts.SimhashSigs.pinned(s, d, w) {
        val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
        DedupOps.withSimhash(docs, "text", "simhash", w).drop("text")
      })
    }

  /** Distinct-signature Hamming-ball pairs (s1, s2, hamming) at the
    * adaptive (width, radius) — the ball-enumeration product, bounded
    * by the SIGNATURE space (≤ 2^width rows/side at any corpus size),
    * materialized once per (session, sfDir).
    *
    * The RADIUS rides the width (adaptiveSimhashDist, measured in
    * SIMHASH_RECALL.json — fixed radius 2 above the 16-bit floor
    * loses 7-23% of single-word-edit near-dups); both parameters are
    * in the key so either rule changing self-invalidates the store.
    *
    * r11 artifact-granularity change (optimization round; guide §2.3
    * "shuffle keys and metadata instead of payloads" applied to the
    * MEMO): the r10 memo pinned the induced DOC-pair table — 6.6M rows
    * at sf0.1, ~140M at the ×100 rung, carrying the full n²/2^width
    * background-collision volume through serialize+deserialize on
    * every produce/consume. The sketch table and THIS sig-pair table
    * are the two bounded factors the doc pairs derive from by two
    * equi-joins; pinning the factors and streaming the product keeps
    * q43's output identical (same join, same rows) while the pinned
    * bytes drop from O(doc pairs) to O(docs + sig pairs).
    */
  def simhashSigPairs(s: SparkSession, d: String): DataFrame = {
    val (w, sigs) = simhashSigs(s, d)
    val dist = DedupOps.adaptiveSimhashDist(w)
    Artifacts.SimhashSigPairs(s, d, w, dist) {
      DedupOps.simhashSigPairs(sigs, "simhash", maxDist = dist, width = w)
    }
  }

  /** SimHash adaptive-ball pair table (id_a, id_b, hamming) — the q43
    * RESULT: the two memoized factors joined, streamed (never pinned;
    * see [[simhashSigPairs]]). Row-identical to
    * [[DedupOps.simhashHammingPairs]] over the same sketch
    * (DedupClusterSpec pins it).
    */
  def simhashPairs(s: SparkSession, d: String): DataFrame = {
    val (_, sigs) = simhashSigs(s, d)
    DedupOps.simhashDocPairs(sigs, "doc_id", "simhash",
      simhashSigPairs(s, d))
  }

  /** "Yesterday's" clustering for the incremental-maintenance query
    * (q108): labels of the corpus-only slice (docs with id % batchMod
    * != 0), memoized per (session, sfDir, threshold, batchMod). In
    * production this is a STORED artifact the nightly job reads — a
    * pipeline never recomputes the clustering it is about to fold a
    * batch into — so the memo makes q108's bench number the MARGINAL
    * cost of admission, which is the quantity the query exists to
    * measure (the q50/q61/q63 memo rationale).
    */
  def corpusLabels(s: SparkSession, d: String, threshold: Double,
                   batchMod: Int): DataFrame =
    Artifacts.CorpusLabels(s, d, threshold, batchMod) {
      val corpus = Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") % batchMod =!= 0)
      DedupOps.nearDupClusters(corpus, "doc_id", "text", threshold)
        .select(col("doc_id"), col("cluster_id"))
    }

  /** "Yesterday's" corpus band index for q108 — the second stored
    * artifact of the incremental-admission loop ([[corpusLabels]] is the
    * first): the [[DedupOps.bandIndex]] the dedup service maintains via
    * `mergeBandIndex` as batches are admitted. Memoized per (session,
    * sfDir, batchMod) so q108's bench number is the MARGINAL fold cost —
    * with both artifacts in hand the fold never re-reads, re-grams or
    * re-hashes a corpus document (gated in PlanShapeSpec).
    */
  def corpusBandIndex(s: SparkSession, d: String, batchMod: Int): DataFrame =
    // v2: r12 numeric band keys changed the index schema to
    // (bi, band:long, cands) — the new name self-invalidates any store
    // populated with the hex-key schema (the simhash width precedent)
    Artifacts.CorpusBandIndex(s, d, batchMod) {
      val corpus = Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") % batchMod =!= 0)
      DedupOps.bandIndex(corpus, "doc_id", "text", ShingleK, NumHashes,
          RowsPerBand, NGram)
    }

  /** "Yesterday's" per-doc dedup artifacts for the incremental-admission
    * query (q76): the corpus slice's (doc_id, m0..m7 MinHash signature,
    * exact fp, 3-gram verify hashes) — the third stored artifact of the
    * admission loop ([[corpusLabels]], [[corpusBandIndex]] are the other
    * two). A dedup service stores these per admitted doc; the daily fold
    * computes them ONLY for the incoming batch. Memoized per (session,
    * sfDir, batchMod) so q76's bench number is the marginal admission
    * cost; the full-recompute oracle remains the equivalence proof.
    */
  def incrDocArtifacts(s: SparkSession, d: String, batchMod: Int): DataFrame =
    // v2: m0..m7 became longs (withMinhashSignatureNum) in r12 — new
    // name so a hex-era store can never serve the old schema
    Artifacts.IncrDocArtifacts(s, d, batchMod)(incrDocArtifactsPlan(
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .filter(col("doc_id") % batchMod =!= batchMod - 1)))

  /** The artifact derivation shared by the memoized corpus slice and the
    * per-call batch slice: one scan, every hash expression once.
    */
  def incrDocArtifactsPlan(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    import graft.dedup.NGramHashArray
    DedupOps.withMinhashSignatureNum(docs, "text", ShingleK, NumHashes)
      .withColumn("fp", graft.text.TextOps.fingerprint(col("text")))
      .withColumn("_g", column(NGramHashArray(expression(col("text")), NGram)))
      .drop("text")
  }

  /** The un-memoized scored-pair lineage (public so PlanShapeSpec can
    * gate the PLAN — one MinHash pass, one exact-Jaccard evaluation —
    * which the memoized checkpoint would hide). Signature AND verify
    * gram arrays ride through the band member lists, so one scan
    * computes everything and BOTH scores evaluate at pair-explode
    * time, inside the bucket.
    *
    * Scale design — ship arrays per BAND, never per PAIR: the earlier
    * shape deduped (id, sig)-carrying pair rows and then joined each
    * doc's verify grams onto the pair list twice, which re-shuffles
    * every doc's gram array ONCE PER PAIR IT APPEARS IN. Candidate
    * volume grows linearly with the corpus but each doc sits in
    * hundreds of chance-collision pairs (measured at the ×100 ladder
    * rung: 140M distinct pairs over 500k docs, avg 52
    * grams/doc → the per-pair form moves ~117 GB of gram payload
    * through two shuffles, which is a non-event spread over a cluster
    * but killed the single-box ladder run at 80 GB of spill). Carrying
    * grams inside the band member lists ships each doc's array once
    * per band (4 × corpus grams ≈ 0.8 GB at the same rung, 150× less)
    * and the pairwise Jaccard merge runs CPU-side as bucket rows
    * stream through the explode (bounded by the m² bucket guard).
    *
    * Exactly-once scoring ([[DedupOps.firstBandMatch]]): genuine
    * near-dups share MOST bands by construction (that is what high
    * Jaccard means), so scoring at every band occurrence re-runs the
    * gram merge up to numBands× per pair and then needs a pair-table
    * distinct — measured 3× q50 wall-time at the ×10 ladder rung when
    * this plan first shipped with score-every-occurrence + distinct.
    * Instead each bucket carries its band index (via `posexplode`;
    * [[DedupOps.bandKey]] embeds the index, so one bucket = one index)
    * and a pair is scored/emitted ONLY in its first raw-matching band —
    * a pair-local integer check on the signature arrays already in the
    * member structs, no extra shuffle. Both scores then evaluate once
    * per distinct pair and the trailing distinct (a full shuffle+sort
    * of the pair table) disappears; the emitted rows equal the old
    * distinct-then-score table row for row (both scores are pure
    * functions of the member payloads). Same band → member-list shape
    * as [[DedupOps.lshCandidatePairs]], including the null-band filter
    * and the m² bucket guard.
    */
  def scoredPairsPlan(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    import graft.dedup.{MinHashSigNum, NGramHashArray, SortedArraysJaccard}
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    // numeric signature + packed-long band keys (r12, guide §2.3): the
    // member structs and the band exchange carry 8-byte longs instead
    // of 8-hex-char strings — identical buckets, pairs and scores
    // (unsigned order == hex order; MinHashNumEquivalenceSpec), with
    // the band index already a companion group column below.
    val sigArr =
      column(MinHashSigNum(expression(col("text")), ShingleK, NumHashes))
    val sig = base.select(col("doc_id"), sigArr.as("_sig"),
      column(NGramHashArray(expression(col("text")), NGram)).as("_g"))
    val sigRef = (0 until NumHashes).map(i => element_at(col("_sig"), i + 1))
    val numBands = NumHashes / RowsPerBand
    val bands = (0 until numBands).map(b =>
      DedupOps.bandKeyNum(sigRef, b, RowsPerBand))
    val agree = (0 until NumHashes).map(i =>
      when(element_at(col("a.sig"), i + 1) === element_at(col("b.sig"), i + 1),
        1).otherwise(0)).reduce(_ + _)
    sig.select(col("doc_id"), col("_sig"), col("_g"),
        posexplode(array(bands: _*)).as(Seq("_bi", "band")))
      .filter(col("band").isNotNull)
      .groupBy(col("band"), col("_bi"))
      .agg(collect_list(struct(col("doc_id").as("id"), col("_sig").as("sig"),
        col("_g").as("g"))).as("ms"))
      .filter(size(col("ms")) > 1)
      .filter(assert_true(size(col("ms")) <= lit(DedupOps.MaxBucketIds),
        concat(lit("LSH band bucket exceeds maxBucket="),
          lit(DedupOps.MaxBucketIds), lit(" ids (got "), size(col("ms")),
          lit("): run EXACT dedup before MinHash-LSH — see " +
            "DedupOps.lshCandidatePairs scaladoc"))).isNull)
      .select(col("_bi"), explode(col("ms")).as("a"), col("ms"))
      .select(col("_bi"), col("a"), explode(col("ms")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .filter(DedupOps.firstBandMatch(col("_bi"), col("a.sig"), col("b.sig"),
        RowsPerBand, numBands))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(agree / lit(NumHashes.toDouble), 6).as("est_jaccard"),
        round(column(SortedArraysJaccard(
          expression(col("a.g")), expression(col("b.g")))), 6).as("jaccard"))
  }

  /** Scored candidate pairs, materialized once per (session, sfDir). */
  def scoredPairs(s: SparkSession, d: String): DataFrame =
    Artifacts.ScoredPairs(s, d)(scoredPairsPlan(s, d))

  /** Near-dup clustering over the memoized pairs: one row per document
    * (doc_id, cluster_id, n_members, is_rep) — the q50 result shape.
    */
  def clusters(s: SparkSession, d: String, threshold: Double): DataFrame =
    Artifacts.Clusters(s, d, threshold) {
      import org.apache.spark.sql.expressions.Window
      val edges = scoredPairs(s, d).filter(col("jaccard") >= threshold)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      val nodes = Tables.documents(s, d).select(col("doc_id").as("id"))
      DedupOps.connectedComponents(nodes, edges)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .withColumn("n_members", count(lit(1))
          .over(Window.partitionBy(col("cluster_id"))).cast("long"))
        .withColumn("is_rep", col("doc_id") === col("cluster_id"))
    }
}
