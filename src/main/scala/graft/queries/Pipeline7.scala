package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Training-data curation batch seven: semantic (embedding-space) dedup,
  * cross-document passage dedup, overlap-fraction decontamination,
  * edit-distance near-dup verification, and the dedup observability
  * histogram.
  */
object Pipeline7 {

  type Q = (SparkSession, String) => DataFrame
  import Tables._

  // ------------------------------------------------------------------- q78
  // Semantic dedup (the SemDeDup recipe: cluster the embedding space,
  // drop items too close to an earlier-kept item in the SAME cluster —
  // pairwise work never leaves a cluster). Buckets here are the first 8
  // hyperplane-sign bits of the deterministic md5-parity sketch (= the
  // 16-bit sketch masked to its low byte: each plane is an independent
  // additive term), so the bucketing is engine-portable and the DuckDB
  // oracle reproduces it bit-for-bit. Within a bucket the keep rule is
  // deterministic and one-pass: a vector is dropped iff some LOWER-id
  // vector in its bucket has rounded cosine >= threshold (no transitive
  // chasing — the kept set is exactly the vectors with n_close = 0).
  // Plan: ONE shuffle — bucket member lists via collect_list (the q32
  // band shape, including its hard bucket cap with a loud error naming
  // the fix), pairs generated scan-local off the lists, one
  // map-side-combinable count, one left join back — see
  // Similarity.semanticDedup (the operator; ScaleSpec stresses its cap
  // on a one-bucket dense corpus).
  private val SemThreshold = 0.2

  private val q78: Q = (s, d) =>
    graft.sim.Similarity.semanticDedup(
      embeddings(s, d).select(col("vec_id"), col("embedding")),
      threshold = SemThreshold)
      .orderBy(col("vec_id"))

  private lazy val q78Sql = s"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    sk AS (SELECT vec_id, embedding,
             CAST(${OracleSql.hyperplaneBitsSql(8)} AS INTEGER) AS bucket
           FROM e),
    close AS (
      SELECT a.vec_id AS vec_id, CAST(count(*) AS BIGINT) AS n_close
      FROM sk a JOIN sk b ON a.bucket = b.bucket AND a.vec_id > b.vec_id
      WHERE ${OracleSql.cosPairSql("a", "b")} >= $SemThreshold
      GROUP BY a.vec_id)
    SELECT sk.vec_id, sk.bucket, coalesce(c.n_close, 0) AS n_close,
           c.n_close IS NULL AS keep
    FROM sk LEFT JOIN close c ON c.vec_id = sk.vec_id
    ORDER BY sk.vec_id"""

  // ------------------------------------------------------------------- q79
  // Cross-document passage dedup (the CCNet/RefinedWeb repeated-passage
  // pass, the granularity BETWEEN q30's whole-doc fingerprints and q50's
  // whole-doc near-dup clusters): hash each non-overlapping 4-word window
  // of the normalized text, count how many DISTINCT docs each passage
  // hash appears in, and report per doc how much of it is corpus-repeated
  // boilerplate. Dedup decisions key on md5(passage) in BOTH engines —
  // 16-byte keys keep the two passage shuffles narrow (the full passage
  // string never leaves its scan), and md5 collisions are
  // cryptographically negligible at any corpus size. The dup-key join is
  // a plain shuffle join ON PURPOSE: the duplicated-passage set is
  // corpus-sized (boilerplate-heavy crawls), never a broadcast candidate;
  // AQE may still convert it at runtime from ACTUAL size, which is the
  // right call at the right layer.
  private val PassageLen = 4
  private val BoilerplateFrac = 0.5

  private val q79: Q = (s, d) =>
    graft.dedup.DedupOps.passageDupStatsOfWords(
      // the shared normalized-word artifact (GramMemo): the corpus is
      // tokenized once per session and q79/q86/q94 all derive their
      // grams from it — and the passage lambda no longer re-normalizes
      // per passage (the HOF CSE note on passageDupStatsOfWords)
      GramMemo.words(s, d),
      "doc_id", "words", PassageLen)
      .withColumn("dup_fraction",
        round(col("n_dup_passages").cast("double") / col("n_passages"), 6))
      .withColumn("is_boilerplate", col("dup_fraction") >= BoilerplateFrac)
      .orderBy(col("doc_id"))

  private lazy val q79Sql = s"""
    WITH nd AS (
      SELECT doc_id, string_split(${OracleSql.normSql}, ' ') AS w
      FROM documents),
    base AS (
      SELECT doc_id, w,
             CAST((len(w) + ${PassageLen - 1}) // $PassageLen AS BIGINT)
               AS n_passages
      FROM nd),
    pp AS (
      SELECT doc_id,
             md5(array_to_string(
               w[p*$PassageLen+1:p*$PassageLen+$PassageLen], ' ')) AS pk
      FROM base, unnest(generate_series(0, n_passages - 1)) t(p)),
    dup AS (
      SELECT pk FROM (
        SELECT pk, count(DISTINCT doc_id) AS nd FROM pp GROUP BY pk) c
      WHERE nd >= 2),
    hits AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_passages
      FROM pp JOIN dup USING (pk) GROUP BY doc_id)
    SELECT b.doc_id, b.n_passages,
           coalesce(h.n_dup_passages, 0) AS n_dup_passages,
           round(CAST(coalesce(h.n_dup_passages, 0) AS DOUBLE)
             / b.n_passages, 6) AS dup_fraction,
           round(CAST(coalesce(h.n_dup_passages, 0) AS DOUBLE)
             / b.n_passages, 6) >= $BoilerplateFrac AS is_boilerplate
    FROM base b LEFT JOIN hits h ON h.doc_id = b.doc_id
    ORDER BY b.doc_id"""

  // ------------------------------------------------------------------- q80
  // Overlap-fraction decontamination (the Llama-style fuzzy rule, vs
  // q56's any-hit rule): a corpus doc is contaminated when >= 25% of its
  // DISTINCT word-3-grams appear in the held-out eval set — single
  // shared grams are tolerated (q56 would flag them), sustained overlap
  // is not. Same scale shape as q56: the eval gram set is the SMALL side
  // by construction and is the ONLY broadcast; the per-doc gram count
  // rides the scan (size of the native NGramArray), so the fraction
  // costs nothing beyond q56's probe.
  private val ContamN = 3
  private val ContamFrac = 0.25

  private val q80: Q = (s, d) => {
    // the probe rides the memoized GramMemo.contamStats artifact (built
    // over GramMemo.leak — one gram derivation and ONE eval-broadcast
    // probe for the whole q80/q125/q126 decontamination family); gram
    // identity is the 16-hex md5 prefix, never gram text
    GramMemo.contamStats(s, d)
      .select(col("doc_id"), col("n_grams"), col("n_hits"))
      .withColumn("overlap_frac",
        round(col("n_hits").cast("double") / col("n_grams"), 6))
      .withColumn("is_contaminated", col("overlap_frac") >= ContamFrac)
      .select(col("doc_id"), col("n_grams"), col("n_hits"),
        col("overlap_frac"), col("is_contaminated"))
      .orderBy(col("doc_id"))
  }

  private lazy val q80Sql = s"""
    WITH nd AS (
      SELECT doc_id, string_split(${OracleSql.normSql}, ' ') AS w
      FROM documents),
    g AS (SELECT doc_id, ${OracleSql.gramsSql(ContamN)} AS gr FROM nd),
    ev AS (SELECT DISTINCT unnest(gr) AS gram FROM g WHERE doc_id % 10 = 0),
    cg AS (SELECT doc_id, CAST(len(gr) AS BIGINT) AS n_grams,
                  unnest(gr) AS gram
           FROM g WHERE doc_id % 10 <> 0)
    SELECT cg.doc_id, cg.n_grams, CAST(count(ev.gram) AS BIGINT) AS n_hits,
           round(CAST(count(ev.gram) AS DOUBLE) / cg.n_grams, 6)
             AS overlap_frac,
           round(CAST(count(ev.gram) AS DOUBLE) / cg.n_grams, 6)
             >= $ContamFrac AS is_contaminated
    FROM cg LEFT JOIN ev ON cg.gram = ev.gram
    GROUP BY cg.doc_id, cg.n_grams ORDER BY cg.doc_id"""

  // ------------------------------------------------------------------- q81
  // Edit-distance near-dup verification — the character-level second
  // opinion on the pairs the MinHash sketch NOMINATES (est_jaccard >=
  // the clustering threshold): exact-substring pipelines verify with
  // edit similarity because 3-gram Jaccard is blind to word order,
  // Levenshtein is not. The expensive O(len²) DP is gated behind the
  // FREE estimate already riding the memoized scored pairs
  // (ClusterMemo — zero marginal MinHash/LSH cost after q50): at sf0.1
  // the LSH bucket chance-collisions alone are ~235k pairs and a DP on
  // every one measured 58 s, while the sketch nominates ~2k — the same
  // cheap-gate-then-verify economics q61's scaladoc derives for the
  // Jaccard pass. The normalized texts join onto the gated pair list by
  // id, two shuffles of (id, text) rows.
  private val EditRelThreshold = 0.4
  private val EditEstGate = 0.5 // = the q50 clustering threshold
  // exact-gram-Jaccard floor on the DP's input: the 8-component MinHash
  // estimator admits CHANCE 4-of-8 agreements between unrelated docs,
  // and their count grows ~quadratically with the corpus (measured on
  // the Scale10 x10 inflation: est>=0.5 pairs 20.8k -> 3.7M while true
  // J>=0.75 pairs grew exactly 10x), so est-only gating hands the
  // O(len^2) DP an n^2-growing junk stream. The exact gram Jaccard is
  // ALREADY verified for every candidate (scoredPairs' SortedArrays
  // merge-count) — flooring on it costs nothing and pins the DP's
  // input to the linearly-growing genuinely-similar population. The
  // floor is a HEURISTIC precision/scale trade, not a lossless gate:
  // rel edit distance and word-3-gram Jaccard are not monotonically
  // coupled (texts with one-char edits spread across every ~3rd word
  // sit near rel_dist 0.07 yet gram-Jaccard near 0), so a chance
  // 4-of-8 MinHash candidate of that adversarial shape is dropped
  // without its DP hearing. The trade is deliberate: that shape is
  // vanishingly rare in scraped-corpus near-dups (which share long
  // verbatim runs), and the alternative — est-only gating — feeds the
  // O(len^2) DP an n^2-growing chance-collision stream.
  private val EditExactFloor = 0.2

  /** q81's un-checkpointed DP lineage — public so PlanShapeSpec can
    * gate the REPARTITION_BY_NUM parallelism pin that the final query's
    * pre-sort checkpoint (see [[q81]]) hides from the executed plan.
    */
  def editDistPlan(s: SparkSession, d: String): DataFrame = {
    // the gated pair list is byte-TINY but CPU-heavy (an O(len²) DP per
    // row), and AQE coalesces post-shuffle partitions by BYTES — left
    // alone it serializes the verify stage onto one core (measured 5x).
    // An explicit pair-keyed repartition pins the DP's parallelism:
    // user-specified partition counts are exempt from AQE coalescing.
    val par = s.conf.get("spark.sql.shuffle.partitions").toInt
    val cand = ClusterMemo.scoredPairs(s, d)
      .filter(col("est_jaccard") >= EditEstGate &&
        col("jaccard") >= EditExactFloor)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
      .repartition(par, col("id_a"), col("id_b"))
    // normalized text reconstructed from the memoized words artifact
    // (normalize collapses whitespace, so join∘split is the identity on
    // its output) — no second whole-corpus regex pass; and only the
    // sketch-gated ids' texts enter the pair join: the gated id set is
    // bounded by the pair gate, rides a bounded broadcast, and
    // left_semi-prunes the corpus before the (id, text) shuffles — at
    // 100 TB the shuffled texts are the ~2k nominated docs, not the
    // corpus.
    // no distinct: duplicate ids cost nothing in a semi-probe and the
    // dedup would add a shuffle before the (already blocking) bound check
    val need = graft.ops.Broadcasts.bounded(
      cand.select(explode(array(col("id_a"), col("id_b"))).as("doc_id")),
      what = "q81 gated-pair id set")
    val t = GramMemo.words(s, d)
      .join(need, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), array_join(col("words"), " ").as("_n"))
    cand
      .join(t.select(col("doc_id").as("id_a"), col("_n").as("_na")),
        Seq("id_a"))
      .join(t.select(col("doc_id").as("id_b"), col("_n").as("_nb")),
        Seq("id_b"))
      .withColumn("edit_dist",
        levenshtein(col("_na"), col("_nb")).cast("long"))
      .withColumn("rel_dist",
        when(greatest(length(col("_na")), length(col("_nb"))) === 0,
          lit(0.0))
          .otherwise(round(col("edit_dist").cast("double") /
            greatest(length(col("_na")), length(col("_nb"))), 6)))
      .withColumn("is_near", col("rel_dist") <= EditRelThreshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"),
        col("edit_dist"), col("rel_dist"), col("is_near"))
  }

  // materialize the (narrow, pair-bounded) DP verdicts before the
  // output sort: orderBy's range-partition SAMPLING job re-executes
  // its child lineage, which here is the O(len²) DP stage — measured
  // 2x the whole query (ProfileQ81, commit c8aa06f). The checkpoint runs the DP
  // once; the sort then samples 20k materialized rows for free.
  private val q81: Q = (s, d) =>
    editDistPlan(s, d).localCheckpoint().orderBy(col("id_a"), col("id_b"))

  private lazy val q81Sql = s"""
    WITH nd AS (SELECT doc_id, ${OracleSql.normSql} AS n FROM documents),
    sig AS (SELECT doc_id, ${OracleSql.minhashSigSelect(
      ClusterMemo.NumHashes, ClusterMemo.ShingleK)} FROM nd),
    bands AS (
      ${OracleSql.minhashBandsSql(
        ClusterMemo.NumHashes / ClusterMemo.RowsPerBand)}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.doc_id < b.doc_id),
    wt AS (SELECT doc_id, string_split(${OracleSql.normSql}, ' ') AS w
           FROM documents),
    gx AS (SELECT doc_id, ${OracleSql.grams3Sql} AS gr FROM wt),
    gated AS (
      SELECT c.id_a, c.id_b,
             round((${OracleSql.sigAgreeSql(ClusterMemo.NumHashes)})
               / ${ClusterMemo.NumHashes}.0, 6) AS est_jaccard
      FROM cand c
        JOIN sig a ON a.doc_id = c.id_a
        JOIN sig b ON b.doc_id = c.id_b
        JOIN gx ga ON ga.doc_id = c.id_a
        JOIN gx gb ON gb.doc_id = c.id_b
      WHERE round((${OracleSql.sigAgreeSql(ClusterMemo.NumHashes)})
        / ${ClusterMemo.NumHashes}.0, 6) >= $EditEstGate
        AND ${OracleSql.jaccard3Sql("ga.gr", "gb.gr")} >= $EditExactFloor)
    SELECT g.id_a, g.id_b, g.est_jaccard,
           CAST(levenshtein(na.n, nb.n) AS BIGINT) AS edit_dist,
           CASE WHEN greatest(length(na.n), length(nb.n)) = 0 THEN 0.0
                ELSE round(CAST(levenshtein(na.n, nb.n) AS DOUBLE)
                  / greatest(length(na.n), length(nb.n)), 6) END
             AS rel_dist,
           (CASE WHEN greatest(length(na.n), length(nb.n)) = 0 THEN 0.0
                 ELSE round(CAST(levenshtein(na.n, nb.n) AS DOUBLE)
                   / greatest(length(na.n), length(nb.n)), 6) END)
             <= $EditRelThreshold AS is_near
    FROM gated g
      JOIN nd na ON na.doc_id = g.id_a
      JOIN nd nb ON nb.doc_id = g.id_b
    ORDER BY g.id_a, g.id_b"""

  // ------------------------------------------------------------------- q82
  // Near-dup cluster size histogram — the observability artifact a dedup
  // run publishes next to q63's manifest (how much mass sits in how-big
  // clusters decides whether to re-tune the threshold). Reads the
  // memoized q50 clustering (zero marginal clustering cost in-session);
  // the histogram itself is one tiny aggregate over (doc, cluster) rows.
  private val q82: Q = (s, d) =>
    ClusterMemo.clusters(s, d, threshold = 0.5)
      .groupBy(col("n_members"))
      .agg(countDistinct(col("cluster_id")).as("n_clusters"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("n_members"))

  private lazy val q82Sql = s"""
    WITH RECURSIVE ${OracleSql.textClusterCtes(0.5)},
    sz AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
      FROM cc GROUP BY cluster_id)
    SELECT n_members, CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(n_members) AS BIGINT) AS n_docs
    FROM sz GROUP BY n_members ORDER BY n_members"""

  val queries: Map[String, Q] = Map(
    "q78_semantic_dedup" -> q78,
    "q79_passage_dedup" -> q79,
    "q80_contamination_fraction" -> q80,
    "q81_editdist_neardup" -> q81,
    "q82_cluster_histogram" -> q82)

  val oracleSql: Map[String, String] = Map(
    "q78_semantic_dedup" -> q78Sql,
    "q79_passage_dedup" -> q79Sql,
    "q80_contamination_fraction" -> q80Sql,
    "q81_editdist_neardup" -> q81Sql,
    "q82_cluster_histogram" -> q82Sql)
}
