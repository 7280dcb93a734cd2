package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.DedupOps

/** Final pipeline-extension batch: SimHash near-dup pairs via Hamming
  * distance, hopping event windows, multimodal frame sampling.
  */
object Pipeline2 {

  type Q = (SparkSession, String) => DataFrame
  import Tables._

  // q43 — simhash near-dup candidate pairs: corpus-adaptive-width
  // signatures (clamp(16, ceil(log2 n) + 8, 31) bits — see
  // DedupOps.adaptiveSimhashWidth; 18 at sf0.01, 21 at sf0.1) within
  // Hamming distance <= 2 (bit_count(xor) in both engines).
  //
  // Scale plan: Hamming-ball enumeration over DISTINCT signatures — see
  // DedupOps.simhashHammingPairs. No all-pairs join, no nested-loop
  // join; candidate generation is bounded by the distinct-signature
  // table, and the adaptive width pins the background-collision term
  // n²/2^width to ~n/256 — LINEAR — at every corpus size (the fixed
  // 16-bit width's quadratic densification was SCALE10's measured 0.86
  // exponent). The Hamming radius rides the width (2 at the 16-bit
  // floor, 3 above — adaptiveSimhashDist): SIMHASH_RECALL.json measured
  // fixed radius 2 losing 7-29% of single-word-edit near-dups at the
  // adaptive widths, while width+radius together still cut background
  // collisions ~5x vs the 16/2 baseline.
  // The pair set is emitted UNSORTED by design: on this low-entropy
  // corpus near-dup pairs are quasi-quadratic in the cluster sizes (4.9M
  // rows at sf0.1), and a global sort of a pair-set output is exactly the
  // operation you cannot afford at 100 TB. The correctness gate sorts
  // rows itself before hashing, so ordering carries no semantics here.
  // q43 is the PRODUCER of the session SimHash pair artifact q136's
  // agreement matrix consumes (Artifacts.SimhashSigs/SimhashSigPairs
  // declare q43 their producer, so Bench clears them per q43 repeat).
  private val q43: Q = (s, d) => ClusterMemo.simhashPairs(s, d)

  private lazy val q43Sql = s"""${OracleSql.simhashSigCtesAdaptive}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    CROSS JOIN wsel
    WHERE bit_count(xor(a.simhash, b.simhash))
            <= ${OracleSql.simhashDistSql("wsel.w")}
    ORDER BY id_a, id_b"""

  // q44 — hopping windows: 10-minute windows sliding every 5 minutes
  // (each event lands in two buckets — explode of the two window starts)
  private val q44: Q = (s, d) => {
    val slideUs = 300000000L // 5 min
    val ev = eventsMicros(s, d)
      .withColumn("b0", col("ts_us") - (col("ts_us") % lit(slideUs)))
    ev.withColumn("win_start_us",
        explode(array(col("b0") - lit(slideUs), col("b0"))))
      .groupBy(col("win_start_us"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("win_start_us"), col("event_type"))
  }

  private val q44Sql = """
    WITH e AS (
      SELECT event_type, value,
             epoch_us(ts) - (epoch_us(ts) % 300000000) AS b0
      FROM events),
    exploded AS (
      SELECT event_type, value, b0 - 300000000 AS win_start_us FROM e
      UNION ALL
      SELECT event_type, value, b0 AS win_start_us FROM e)
    SELECT win_start_us, event_type, count(*) AS n,
           round(sum(value), 4) AS sum_value
    FROM exploded GROUP BY win_start_us, event_type
    ORDER BY win_start_us, event_type"""

  // q45 — multimodal frame sampling: fixed-stride byte slices of the
  // binary payload (the shape of video frame extraction), hex-encoded.
  // The frames array is fingerprinted (md5 over a ','-join) so the output
  // stays scalar-typed — the driver's checker sorts column values and an
  // array column is unsortable there.
  private val q45: Q = (s, d) =>
    documents(s, d)
      .select(col("doc_id"), to_binary(col("text"), lit("utf-8")).as("payload"))
      .withColumn("n_bytes", octet_length(col("payload")).cast("long"))
      .withColumn("hx", lower(hex(col("payload"))))
      .withColumn("frames",
        transform(sequence(lit(0L), least(((col("n_bytes") - 1) / 32).cast("long"), lit(7L))),
          i => substring(col("hx"), (i * 64 + 1).cast("int"), lit(16))))
      .select(col("doc_id"), col("n_bytes"), size(col("frames")).as("n_frames"),
        md5(array_join(col("frames"), ",")).as("frames_fp"))
      .orderBy(col("doc_id"))

  private val q45Sql = """
    WITH p AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
                      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
               FROM documents),
    f AS (SELECT doc_id, n_bytes,
           list_transform(
             generate_series(0, least((n_bytes - 1) // 32, 7)),
             i -> substring(hx, CAST(i * 64 + 1 AS INTEGER), 16)) AS frames
          FROM p)
    SELECT doc_id, n_bytes, CAST(len(frames) AS INTEGER) AS n_frames,
           md5(array_to_string(frames, ',')) AS frames_fp
    FROM f ORDER BY doc_id"""

  // q46 — embedding-cosine near-dup pairs: deterministic hyperplane-sign
  // sketch (md5-parity planes, engine-portable) → Hamming-ball candidates
  // over distinct sketches → exact cosine verify on candidates only.
  // PRODUCER of the session EmbMemo pair artifact (q54/q69/q116 consume
  // it; Artifacts.EmbPairs declares q46 its producer).
  private val q46: Q = (s, d) =>
    EmbMemo.pairs(s, d).orderBy(col("id_a"), col("id_b"))

  private lazy val q46Sql = s"""
    WITH ${OracleSql.embeddingPairsCtes}
    SELECT id_a, id_b, hamming, sim FROM pairs
    WHERE sim >= 0.2 ORDER BY id_a, id_b"""

  // q47 — multimodal byte-feature extraction: high-nibble histogram and
  // Shannon entropy per binary payload (decode-free corruption/format
  // screening), scan-local Column expressions only.
  private val q47: Q = (s, d) =>
    graft.multimodal.Multimodal.withByteFeatures(
      documents(s, d).select(col("doc_id"),
        to_binary(col("text"), lit("utf-8")).as("payload")), "payload")
      .drop("payload")
      .orderBy(col("doc_id"))

  private lazy val q47Sql = {
    val hexChars = "0123456789abcdef"
    val bins = (0 until 16).map { v =>
      s"""CAST(len(list_filter(nib, c -> c = '${hexChars(v)}')) AS BIGINT) AS h$v"""
    }.mkString(",\n           ")
    val terms = (0 until 16).map { v =>
      s"""(CASE WHEN h$v > 0 THEN -(CAST(h$v AS DOUBLE)/n_bytes) * log2(CAST(h$v AS DOUBLE)/n_bytes) ELSE 0.0 END)"""
    }.mkString(" + ")
    s"""
    WITH p AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
                      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
               FROM documents),
    nb AS (SELECT doc_id, n_bytes,
             list_transform(generate_series(1, greatest(CAST(n_bytes AS INTEGER), 1)),
               i -> substr(hx, i * 2 - 1, 1)) AS nib
           FROM p),
    hist AS (SELECT doc_id, n_bytes,
           $bins
      FROM nb)
    SELECT doc_id, n_bytes, ${(0 until 16).map(v => s"h$v").mkString(", ")},
           CASE WHEN n_bytes = 0 THEN 0.0
                ELSE round($terms, 6) END AS byte_entropy
    FROM hist ORDER BY doc_id"""
  }

  // q48 — composed curation pipeline (the realistic training-data shape):
  // language ID + quality scoring + token bounds as scan-local features,
  // then exact-dedup keep-smallest-id over the survivors. ONE scan and one
  // shuffle: min_by carries the kept row's features through the dedup
  // aggregate, so the regex-heavy feature stage is never computed twice
  // (a groupBy + join-back form re-ran it on both sides — measured 2x).
  private val q48: Q = (s, d) => {
    import graft.text.TextOps
    val feats = FeatureMemo.features(s, d).select(col("doc_id"),
      col("lang_pred"), col("quality"),
      col("n_tokens_ws").as("n_tokens"), col("fp"))
    val filtered = feats.filter(col("lang_pred") === "en" &&
      col("quality") >= 0.91 && col("n_tokens") >= 20)
    filtered.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("n_copies"),
        min_by(struct(col("lang_pred"), col("quality"), col("n_tokens")),
          col("doc_id")).as("_f"))
      .select(col("doc_id"), col("_f.lang_pred"), col("_f.quality"),
        col("_f.n_tokens"), col("fp"), col("n_copies"))
      .orderBy(col("doc_id"))
  }

  private lazy val q48Sql = {
    val bpeFree = s"""
    WITH sc AS (
      SELECT doc_id, text,
             ${OracleSql.langCountsSql},
             ${OracleSql.qualityScColsSql}
      FROM documents),
    feats AS (
      SELECT doc_id,
             ${OracleSql.langCaseSql} AS lang_pred,
             ${OracleSql.qualitySql} AS quality,
             CAST(nws AS BIGINT) AS n_tokens,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM sc),
    filtered AS (
      SELECT * FROM feats
      WHERE lang_pred = 'en' AND quality >= 0.91 AND n_tokens >= 20),
    keep AS (
      SELECT fp, min(doc_id) AS doc_id, count(*) AS n_copies
      FROM filtered GROUP BY fp)
    SELECT f.doc_id, f.lang_pred, f.quality, f.n_tokens, f.fp, k.n_copies
    FROM keep k JOIN filtered f ON k.fp = f.fp AND k.doc_id = f.doc_id
    ORDER BY f.doc_id"""
    bpeFree
  }

  // q49 — rolling-hash document fingerprint: minimum Rabin hash over all
  // 8-byte windows (the bottom-1 winnowing sketch — robust to shifted /
  // embedded content where a whole-content digest changes completely).
  // Scan-local native expression; the oracle mirrors the same 64-bit
  // arithmetic window by window.
  private val q49: Q = (s, d) => {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    documents(s, d)
      .select(col("doc_id"), to_binary(col("text"), lit("utf-8")).as("payload"))
      .select(col("doc_id"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        column(graft.text.RollingMinHash(expression(col("payload")),
          k = 8, base = 31L, mod = 2147483647L)).as("min_rhash"))
      .withColumn("n_windows", greatest(col("n_bytes") - 7, lit(0L)))
      .orderBy(col("doc_id"))
  }

  private val q49Sql = """
    WITH p AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
                      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
               FROM documents),
    b AS (SELECT doc_id, n_bytes,
            list_transform(generate_series(1, CAST(n_bytes AS INTEGER)),
              i -> CAST((strpos('0123456789abcdef', substr(hx, i*2-1, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substr(hx, i*2, 1)) - 1) AS BIGINT))
              AS bytes
          FROM p)
    SELECT doc_id, n_bytes,
           CASE WHEN n_bytes >= 8 THEN
             list_min(list_transform(
               generate_series(0, CAST(n_bytes AS INTEGER) - 8),
               i -> (bytes[i+1]*27512614111 + bytes[i+2]*887503681
                   + bytes[i+3]*28629151 + bytes[i+4]*923521
                   + bytes[i+5]*29791 + bytes[i+6]*961
                   + bytes[i+7]*31 + bytes[i+8]) % 2147483647))
           ELSE NULL END AS min_rhash,
           greatest(n_bytes - 7, 0) AS n_windows
    FROM b ORDER BY doc_id"""

  // q50 — near-duplicate clustering, the full production dedup pipeline:
  // MinHash -> banded LSH candidates -> exact n-gram-Jaccard verify on
  // candidates only -> connected components (iterative min-label
  // propagation; the oracle mirrors it with a recursive CTE) ->
  // representative per cluster. One row per document. Runs through the
  // session-scoped ClusterMemo so same-session consumers (q63's
  // manifest, q61's estimates) reuse this clustering instead of
  // re-running the lineage; hash-equality with the direct
  // DedupOps.nearDupClusters is pinned in DedupClusterSpec.
  private val q50: Q = (s, d) =>
    ClusterMemo.clusters(s, d, threshold = 0.5).orderBy(col("doc_id"))

  private lazy val q50Sql = s"""
    WITH RECURSIVE ${OracleSql.textClusterCtes(0.5)}
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS n_members,
           doc_id = cluster_id AS is_rep
    FROM cc ORDER BY doc_id"""

  val queries: Map[String, Q] = Map(
    "q50_neardup_clusters" -> q50,
    "q48_curation_pipeline" -> q48,
    "q49_rolling_fingerprint" -> q49,
    "q43_simhash_hamming_pairs" -> q43,
    "q44_hopping_windows" -> q44,
    "q45_multimodal_framesample" -> q45,
    "q46_embedding_neardup" -> q46,
    "q47_multimodal_bytehist" -> q47)

  val oracleSql: Map[String, String] = Map(
    "q50_neardup_clusters" -> q50Sql,
    "q48_curation_pipeline" -> q48Sql,
    "q49_rolling_fingerprint" -> q49Sql,
    "q43_simhash_hamming_pairs" -> q43Sql,
    "q44_hopping_windows" -> q44Sql,
    "q45_multimodal_framesample" -> q45Sql,
    "q46_embedding_neardup" -> q46Sql,
    "q47_multimodal_bytehist" -> q47Sql)
}
