package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch sixteen: graph-density and fingerprint-sketch diagnostics over
  * the corpus — q121 triangle counting / local clustering coefficients
  * on the embedding near-dup graph (the "is this neighborhood a template
  * farm or a chain of weak links" signal: a boilerplate cluster is
  * near-clique, lcc ≈ 1, while topic drift shows as high degree with
  * low closure), and q122 winnowing fingerprints (the MOSS sketch:
  * Schleimer, Wilkerson & Aiken 2003) — the guaranteed-coverage
  * substring sketch that document-level MinHash (q30) and the bottom-1
  * rolling hash (q49) both are not: every shared run of ≥ w+k−1 words
  * is witnessed by at least one shared selected fingerprint.
  */
object Pipeline16 {

  type Q = (SparkSession, String) => DataFrame
  import Tables._

  // ------------------------------------------------------------------ q121
  // Triangle count + local clustering coefficient per node, over the
  // verified near-dup edge list (the memoized EmbMemo pair artifact — no
  // second sketch pass). Degree-ordered orientation (the node-iterator
  // bound of Schank & Wagner 2005): every edge points from its
  // lower-(degree, id) endpoint to the higher one, so wedge enumeration
  // is bounded by out-degree ≤ O(√m) per node instead of the raw degree —
  // the difference between O(Σd²) (a hub node explodes) and O(m^{3/2})
  // at 100 TB. Each triangle is acyclic under a total order, has exactly
  // one node with out-degree 2, and is therefore counted exactly once.
  //
  // Scale shape: degrees are one map-side-combinable agg over the edge
  // list; the wedge join and the closing join are equi-joins keyed on a
  // node and an (b, c) pair respectively (AQE splits hot keys); per-node
  // triangle counts are an agg over the 3-way vertex union. Nothing ever
  // shuffles corpus rows — everything is |E|-bounded, the Pregel-family
  // shape of q116/q120.

  /** q121's core over explicit node/edge frames — public for the
    * hand-fixture spec (a planted clique → exact closure arithmetic).
    * `nodes` = (id); `edges` = one row per undirected pair (id_a, id_b).
    */
  def triangleStats(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val e = edges.select(col("id_a"), col("id_b"))
    val sym = e.select(col("id_a").as("u"), col("id_b").as("v"))
      .union(e.select(col("id_b").as("u"), col("id_a").as("v")))
    val deg = sym.groupBy(col("u")).agg(count(lit(1)).as("d"))
      .select(col("u").as("id"), col("d"))
    // orient each edge from its lower-(degree, id) endpoint; carry the
    // destination's (degree, id) so wedge endpoints order by the SAME
    // total order the orientation used — the closing edge is then
    // guaranteed to be oriented b→c
    val de = e
      .join(deg.select(col("id").as("id_a"), col("d").as("da")), Seq("id_a"))
      .join(deg.select(col("id").as("id_b"), col("d").as("db")), Seq("id_b"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("id_a") < col("id_b"))
    val o = de.select(
        when(aFirst, col("id_a")).otherwise(col("id_b")).as("src"),
        when(aFirst, col("id_b")).otherwise(col("id_a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("dd"))
      .localCheckpoint()
    val x = o.select(col("src"), col("dst").as("b"), col("dd").as("ob"))
    val y = o.select(col("src"), col("dst").as("c"), col("dd").as("oc"))
    val wedges = x.join(y, Seq("src"))
      .filter(col("ob") < col("oc") ||
        (col("ob") === col("oc") && col("b") < col("c")))
    val tri = wedges.join(
      o.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"))
    val tcnt = tri.select(col("src").as("id"))
      .union(tri.select(col("b").as("id")))
      .union(tri.select(col("c").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("t"))
    nodes.select(col("id"))
      .join(deg, Seq("id"), "left")
      .join(tcnt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("d"), lit(0L)).as("degree"),
        coalesce(col("t"), lit(0L)).as("triangles"),
        when(coalesce(col("d"), lit(0L)) >= 2,
          round(lit(2.0) * coalesce(col("t"), lit(0L)) /
            (col("d") * (col("d") - 1)), 6)).otherwise(lit(0.0)).as("lcc"))
      .orderBy(col("id"))
  }

  private val q121: Q = (s, d) =>
    triangleStats(
      embeddings(s, d).select(col("vec_id").as("id")),
      EmbMemo.pairs(s, d).select(col("id_a"), col("id_b")))
      .withColumnRenamed("id", "vec_id")

  private lazy val q121Sql = s"""
    WITH ${OracleSql.embeddingPairsCtes},
    ed AS (SELECT id_a, id_b FROM pairs
           WHERE sim >= ${EmbMemo.Threshold}),
    sym AS (SELECT id_a AS u, id_b AS v FROM ed
            UNION ALL
            SELECT id_b AS u, id_a AS v FROM ed),
    deg AS (SELECT u AS id, count(*) AS d FROM sym GROUP BY u),
    de AS (SELECT ed.id_a, ed.id_b, a.d AS da, b.d AS db
           FROM ed JOIN deg a ON a.id = ed.id_a
                   JOIN deg b ON b.id = ed.id_b),
    o AS (SELECT
            CASE WHEN da < db OR (da = db AND id_a < id_b)
                 THEN id_a ELSE id_b END AS src,
            CASE WHEN da < db OR (da = db AND id_a < id_b)
                 THEN id_b ELSE id_a END AS dst,
            CASE WHEN da < db OR (da = db AND id_a < id_b)
                 THEN db ELSE da END AS dd
          FROM de),
    w AS (SELECT x.src, x.dst AS b, y.dst AS c
          FROM o x JOIN o y ON x.src = y.src
          WHERE x.dd < y.dd OR (x.dd = y.dd AND x.dst < y.dst)),
    tri AS (SELECT w.src, w.b, w.c
            FROM w JOIN o z ON z.src = w.b AND z.dst = w.c),
    tv AS (SELECT src AS id FROM tri
           UNION ALL SELECT b FROM tri
           UNION ALL SELECT c FROM tri),
    tc AS (SELECT id, count(*) AS t FROM tv GROUP BY id)
    SELECT e.vec_id,
           CAST(coalesce(deg.d, 0) AS BIGINT) AS degree,
           CAST(coalesce(tc.t, 0) AS BIGINT) AS triangles,
           CASE WHEN coalesce(deg.d, 0) >= 2
                THEN round(2.0 * coalesce(tc.t, 0) /
                           (deg.d * (deg.d - 1)), 6)
                ELSE 0.0 END AS lcc
    FROM e LEFT JOIN deg ON deg.id = e.vec_id
           LEFT JOIN tc ON tc.id = e.vec_id
    ORDER BY e.vec_id"""

  // ------------------------------------------------------------------ q122
  // Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003, the MOSS
  // sketch): per document, hash every k-word gram, slide a w-window over
  // the hash sequence and keep each window's MINIMUM — the selected set
  // is ~2/(w+1) of all grams yet GUARANTEES any shared run of ≥ w+k−1
  // words between two documents shares at least one selected
  // fingerprint. That coverage guarantee is what q30's document-level
  // MinHash and q49's bottom-1 rolling hash both trade away. Gram
  // identity is a 16-hex-char md5 prefix in BOTH engines (the q79/q86
  // house rule: gram text never rides an exchange) and the window min is
  // a LEXICAL min over those hex strings — a pure total order, identical
  // across engines, no numeric conversion needed.
  //
  // Scale shape: hashing AND winnowing are entirely scan-local (array
  // expressions per row — no positions shuffle at all, unlike q112 whose
  // gaps-and-islands needs per-position rows); the only exchanges carry
  // the SELECTED (doc_id, 16-char fp) rows (~22% of gram count) for the
  // two-phase shared-fp election and the equi-join probe back. Same
  // shape at 100 TB.
  private val WinK = 4   // gram width (words)
  private val WinW = 8   // winnow window (grams)

  /** q122's core over an explicit (doc_id, words) frame — public for the
    * hand-fixture spec (planted shared run → guaranteed shared
    * fingerprint; density arithmetic on a known hash sequence).
    */
  /** The scan-local winnow selection: (doc_id, n_grams, fps) with the
    * per-doc distinct window-min fingerprint set — shared by q122's
    * per-doc stats and q127's family clustering. Checkpointed: both
    * consumers fan it into ≥2 derivations.
    */
  def winnowBase(words: DataFrame, k: Int = WinK,
                 w: Int = WinW): DataFrame = {
    val wc = col("words")
    // hash once per GRAM, then window-min over the precomputed array —
    // the fused form recomputed each gram's md5 in every window that
    // contains it (w× redundant hashing; measured ~2× the whole query)
    words.select(col("doc_id"), wc,
        when(size(wc) >= k, transform(
          sequence(lit(0), size(wc) - k),
          i => substring(md5(to_binary(
            array_join(slice(wc, i + 1, lit(k)), " "),
            lit("utf-8"))), 1, 16)))
          .otherwise(array().cast("array<string>")).as("_ha"))
      .select(col("doc_id"),
        greatest(size(wc) - (k - 1), lit(0)).cast("long").as("n_grams"),
        when(size(col("_ha")) >= w,
          array_distinct(transform(
            sequence(lit(0), size(col("_ha")) - w),
            p => array_min(slice(col("_ha"), p + 1, lit(w))))))
          .otherwise(array().cast("array<string>")).as("fps"))
      .localCheckpoint()
  }

  def winnowFingerprints(words: DataFrame, k: Int = WinK,
                         w: Int = WinW): DataFrame =
    winnowFingerprintsFromBase(winnowBase(words, k, w))

  /** [[winnowFingerprints]] over an ALREADY-materialized selection (the
    * [[GramMemo.winnow]] artifact).
    */
  def winnowFingerprintsFromBase(base: DataFrame): DataFrame = {
    val fp = base.select(col("doc_id"), explode(col("fps")).as("fp"))
    val shared = fp.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("ndoc"))
    val per = fp.join(shared, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("ndoc") >= 2, 1L).otherwise(0L)).as("n_shared_fps"),
        max(col("ndoc")).as("max_fp_docs"))
    base.join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        size(col("fps")).cast("long").as("n_fps"),
        coalesce(col("n_shared_fps"), lit(0L)).as("n_shared_fps"),
        coalesce(col("max_fp_docs"), lit(0L)).as("max_fp_docs"))
      .orderBy(col("doc_id"))
  }

  private val q122: Q = (s, d) => GramMemo.winnowStats(s, d)

  private val q122Sql = {
    val k = WinK; val w = WinW
    s"""
    WITH nd AS (SELECT doc_id, ${OracleSql.normSql} AS n FROM documents),
    base AS (SELECT doc_id, string_split(n, ' ') AS w FROM nd),
    fps AS (
      SELECT doc_id,
             greatest(len(w) - ${k - 1}, 0) AS n_grams,
             CASE WHEN len(w) >= ${k + w - 1} THEN
               list_distinct(list_transform(
                 generate_series(0, len(w) - ${k + w - 1}),
                 p -> list_min(list_transform(
                   generate_series(p, p + ${w - 1}),
                   i -> substr(md5(array_to_string(w[i+1:i+$k], ' ')),
                               1, 16)))))
             ELSE [] END AS fps
      FROM base),
    fp AS (SELECT doc_id, unnest(fps) AS fp FROM fps),
    shared AS (SELECT fp, count(DISTINCT doc_id) AS ndoc
               FROM fp GROUP BY fp),
    per AS (SELECT fp.doc_id,
              sum(CASE WHEN s.ndoc >= 2 THEN 1 ELSE 0 END) AS n_shared_fps,
              max(s.ndoc) AS max_fp_docs
            FROM fp JOIN shared s USING (fp) GROUP BY fp.doc_id)
    SELECT f.doc_id, CAST(f.n_grams AS BIGINT) AS n_grams,
           CAST(len(f.fps) AS BIGINT) AS n_fps,
           CAST(coalesce(p.n_shared_fps, 0) AS BIGINT) AS n_shared_fps,
           CAST(coalesce(p.max_fp_docs, 0) AS BIGINT) AS max_fp_docs
    FROM fps f LEFT JOIN per p USING (doc_id) ORDER BY f.doc_id"""
  }

  // ------------------------------------------------------------------ q123
  // HLL cardinality monitor: per event type, the HyperLogLog
  // distinct-user estimate next to the exact count — the engine-portable
  // mergeable-register sketch ([[graft.dedup.HllSketch]]) production
  // stores keep per shard/day/source and fold without re-scans, shown
  // against ground truth so the 1.04/√256 ≈ 6.5% error contract is
  // auditable in the output itself. Complements q91's KMV: same md5
  // hash family, constant 256 BYTES per group vs KMV's 2 KiB.
  //
  // Scale shape: one scan; the HLL agg partial-merges map-side (256-byte
  // buffers), so the exchange carries |event_types| × 256 B. The exact
  // countDistinct is here as the AUDIT column — at 100 TB you drop it
  // and keep only the sketch (that being the point of the sketch).
  private val q123: Q = (s, d) =>
    events(s, d)
      .select(col("event_type"),
        col("user_id"), graft.dedup.Hll.md5Hex(col("user_id")).as("h"))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"),
        round(graft.dedup.Hll.hllDistinct(col("h")), 4).as("hll_est"))
      .withColumn("rel_err",
        round(abs(col("hll_est") - col("n_exact")) / col("n_exact"), 4))
      .orderBy(col("event_type"))

  private lazy val q123Sql = s"""
    WITH t AS (SELECT event_type AS grp,
                      md5(CAST(user_id AS VARCHAR)) AS h FROM events),
    regs AS (${graft.dedup.Hll.registersSql}),
    est AS (${graft.dedup.Hll.estimateSql}),
    ex AS (SELECT event_type AS grp, count(DISTINCT user_id) AS n_exact
           FROM events GROUP BY 1)
    SELECT ex.grp AS event_type, CAST(ex.n_exact AS BIGINT) AS n_exact,
           round(est.est, 4) AS hll_est,
           round(abs(round(est.est, 4) - ex.n_exact) / ex.n_exact, 4)
             AS rel_err
    FROM ex JOIN est ON est.grp = ex.grp
    ORDER BY event_type"""

  // ------------------------------------------------------------------ q124
  // Zipf rank-frequency slope per language: the least-squares slope of
  // ln(freq) on ln(rank) over the unigram vocabulary — natural text sits
  // near −1 (Zipf's law); a source of templated/generated boilerplate
  // flattens the head (slope → 0) and machine-generated token soup
  // steepens the tail. With q115's coverage curve this is the other
  // scalar a tokenizer/mixture stack tracks per language per crawl.
  //
  // Scale shape: rides the words artifact; the only corpus-sized
  // exchange is the (lang, word) count agg with map-side combine
  // (vocab-bounded output); the rank window sorts VOCAB rows per lang;
  // the slope is covar_pop/var_pop — algebraic aggregates, partial
  // map-side. Same shape at 100 TB.
  /** q124's core over an explicit (lang, words) frame — public for the
    * hand-fixture spec (an exact power-law corpus → slope −1).
    */
  def zipfSlopeOfWords(words: DataFrame): DataFrame = {
    val c = words
      .select(col("lang"), explode(col("words")).as("word"))
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("c"))
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(desc("c"), col("word"))
    val r = c.withColumn("rnk", row_number().over(wnd))
      .select(col("lang"), log(col("rnk")).as("x"), log(col("c")).as("y"))
    r.groupBy(col("lang"))
      .agg(count(lit(1)).as("vocab_size"),
        round(covar_pop(col("x"), col("y")) / var_pop(col("x")), 4)
          .as("zipf_slope"),
        round(pow(corr(col("x"), col("y")), 2), 4).as("zipf_r2"))
      .orderBy(col("lang"))
  }

  private val q124: Q = (s, d) => zipfSlopeOfWords(GramMemo.words(s, d))

  private val q124Sql = s"""
    WITH nd AS (SELECT lang, ${OracleSql.normSql} AS n FROM documents),
    sw AS (SELECT lang, unnest(string_split(n, ' ')) AS word FROM nd),
    c AS (SELECT lang, word, count(*) AS c FROM sw GROUP BY lang, word),
    rk AS (SELECT lang, c,
             row_number() OVER (PARTITION BY lang ORDER BY c DESC, word)
               AS rnk
           FROM c),
    r AS (SELECT lang, ln(rnk) AS x, ln(c) AS y FROM rk)
    SELECT lang, count(*) AS vocab_size,
           round(covar_pop(x, y) / var_pop(x), 4) AS zipf_slope,
           round(power(corr(x, y), 2), 4) AS zipf_r2
    FROM r GROUP BY lang ORDER BY lang"""

  // ------------------------------------------------------------------ q125
  // Contamination ATTRIBUTION: q80 reports the per-doc overlap fraction;
  // this names the culprits — every (eval item, corpus doc) pair sharing
  // ≥ MinShared distinct 3-grams, i.e. the leak map a decontamination
  // stack ships to its eval owners ("which benchmark questions appear in
  // which training docs"). Gram identity is md5-hashed on BOTH sides
  // before anything aggregates, so the distinct-count expansion shuffles
  // 16-byte keys, never gram text (the q86/q94 house rule).
  //
  // Scale shape: the eval gram set is the broadcast (eval-bounded, the
  // q56/q80 economics); the corpus is scanned once, the broadcast join
  // fans out only on grams the eval set actually contains, and the
  // (eval_id, doc_id) count-distinct is map-side combinable. Output is
  // bounded by actual leak pairs. Same shape at 100 TB.
  private val LeakGramN = 3
  private val LeakMinShared = 3

  private val q125: Q = (s, d) => {
    // the (doc, gram-key) base rides the memoized GramMemo.leak
    // artifact — one derivation for the whole decontamination family
    val docs = GramMemo.leak(s, d)
    val ev = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("eval_id"), explode(col("gks")).as("gk"))
      .distinct()
    docs.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), explode(col("gks")).as("gk"))
      .join(broadcast(ev), Seq("gk"))
      .groupBy(col("eval_id"), col("doc_id"))
      .agg(countDistinct(col("gk")).as("n_shared"))
      .filter(col("n_shared") >= LeakMinShared)
      .orderBy(col("eval_id"), col("doc_id"))
  }

  private lazy val q125Sql = s"""
    WITH nd AS (
      SELECT doc_id, string_split(${OracleSql.normSql}, ' ') AS w
      FROM documents),
    g AS (SELECT doc_id, ${OracleSql.gramsSql(LeakGramN)} AS gr FROM nd),
    ev AS (SELECT DISTINCT doc_id AS eval_id, md5(gram) AS gk
           FROM (SELECT doc_id, unnest(gr) AS gram FROM g
                 WHERE doc_id % 10 = 0)),
    cg AS (SELECT doc_id, md5(gram) AS gk
           FROM (SELECT doc_id, unnest(gr) AS gram FROM g
                 WHERE doc_id % 10 <> 0))
    SELECT ev.eval_id, cg.doc_id,
           count(DISTINCT cg.gk) AS n_shared
    FROM cg JOIN ev ON ev.gk = cg.gk
    GROUP BY ev.eval_id, cg.doc_id
    HAVING count(DISTINCT cg.gk) >= $LeakMinShared
    ORDER BY ev.eval_id, cg.doc_id"""

  // ------------------------------------------------------------------ q126
  // Per-source corpus health — the dashboard row a curation team watches
  // per crawl: volume (docs, tokens), lexical shape (vocab size), drift
  // (KL vs the corpus, the q113 core), near-duplication (share of docs
  // with at least one SHARED winnowing fingerprint, the q122 sketch) and
  // eval contamination (share of non-eval docs over the q80 overlap
  // threshold). One query composes the four diagnostic families off the
  // session artifacts; the DuckDB oracle replays every branch from
  // scratch, so the green hash proves the COMPOSITION, not just the
  // parts.
  //
  // Scale shape: every branch keeps its own gated shape (words-artifact
  // explodes with map-side-combinable aggs, scan-local winnowing,
  // broadcast eval grams); the final joins are on `source` — a
  // handful of rows. Nothing new shuffles.
  private val HealthContamFrac = 0.25

  /** q126's diagnostic branches, individually, so each can be timed on
    * its own. Each returns (source, ...cols).
    */
  def healthBranches(s: SparkSession, d: String): Seq[(String, DataFrame)] = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val w = GramMemo.words(s, d)
    val base = w.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    // ONE (source, word) counts table feeds tokens, vocab AND the KL —
    // the same vocab-bounded pin q113 uses; re-deriving each from its
    // own corpus explode tripled the lexical branches' cost
    val c = w.select(col("source"), explode(col("words")).as("word"))
      .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val vocab = c.groupBy(col("source"))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).as("vocab_size"))
    val wt = c.groupBy(col("word")).agg(sum(col("c")).as("cw"))
    val st = c.groupBy(col("source")).agg(sum(col("c")).as("cs"))
    val tot = st.agg(sum(col("cs")).as("ct"))
    val kl = c.join(wt, Seq("word")).join(broadcast(st), Seq("source"))
      .crossJoin(broadcast(tot))
      .groupBy(col("source"))
      .agg(round(sum((col("c") / col("cs")) *
        log((col("c") / col("cs")) / (col("cw") / col("ct")))), 6)
        .as("kl"))
    val dup = w.select(col("doc_id"), col("source"))
      .join(GramMemo.winnowStats(s, d).select(col("doc_id"),
        (col("n_shared_fps") > 0).cast("int").as("_dup")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(round(avg(col("_dup")), 6).as("dup_doc_share"))
    val contam = GramMemo.contamStats(s, d)
      .select(col("source"),
        (round(col("n_hits").cast("double") / col("n_grams"), 6) >=
          HealthContamFrac).cast("int").as("_c"))
      .groupBy(col("source"))
      .agg(round(avg(col("_c")), 6).as("contam_doc_share"))
    Seq("base" -> base, "vocab" -> vocab, "kl" -> kl, "dup" -> dup,
      "contam" -> contam)
  }

  private val q126: Q = (s, d) => {
    val Seq((_, base), (_, vocab), (_, kl), (_, dup), (_, contam)) =
      healthBranches(s, d)
    base.join(vocab, Seq("source")).join(kl, Seq("source"))
      .join(dup, Seq("source")).join(contam, Seq("source"))
      .orderBy(col("source"))
  }

  private lazy val q126Sql = {
    val k = WinK; val ww = WinW
    s"""
    WITH nd AS (SELECT doc_id, source, ${OracleSql.normSql} AS n
                FROM documents),
    wt AS (SELECT doc_id, source, string_split(n, ' ') AS w FROM nd),
    base AS (SELECT source, count(*) AS n_docs,
               CAST(sum(len(w)) AS BIGINT) AS n_tokens
             FROM wt GROUP BY source),
    sw AS (SELECT source, unnest(w) AS word FROM wt),
    voc AS (SELECT source, count(DISTINCT word) AS vocab_size
            FROM sw GROUP BY source),
    c AS (SELECT source, word, count(*) AS c FROM sw GROUP BY source, word),
    wtot AS (SELECT word, sum(c) AS cw FROM c GROUP BY word),
    st AS (SELECT source, sum(c) AS cs FROM c GROUP BY source),
    tot AS (SELECT sum(cs) AS ct FROM st),
    kl AS (SELECT c.source,
             round(sum((c.c / st.cs) *
               ln((c.c / st.cs) / (wtot.cw / tot.ct))), 6) AS kl
           FROM c JOIN wtot USING (word) JOIN st USING (source)
           CROSS JOIN tot GROUP BY c.source),
    fps AS (SELECT doc_id,
              CASE WHEN len(w) >= ${k + ww - 1} THEN
                list_distinct(list_transform(
                  generate_series(0, len(w) - ${k + ww - 1}),
                  p -> list_min(list_transform(
                    generate_series(p, p + ${ww - 1}),
                    i -> substr(md5(array_to_string(w[i+1:i+$k], ' ')),
                                1, 16)))))
              ELSE [] END AS fps
            FROM wt),
    fp AS (SELECT doc_id, unnest(fps) AS fp FROM fps),
    sh AS (SELECT fp FROM (SELECT fp, count(DISTINCT doc_id) AS ndoc
                           FROM fp GROUP BY fp) WHERE ndoc >= 2),
    dupdoc AS (SELECT DISTINCT doc_id FROM fp JOIN sh USING (fp)),
    dup AS (SELECT wt.source,
              round(avg(CASE WHEN dupdoc.doc_id IS NULL THEN 0
                        ELSE 1 END), 6) AS dup_doc_share
            FROM wt LEFT JOIN dupdoc ON dupdoc.doc_id = wt.doc_id
            GROUP BY wt.source),
    g AS (SELECT doc_id, source, ${OracleSql.gramsSql(LeakGramN)} AS gr
          FROM wt),
    ev AS (SELECT DISTINCT unnest(gr) AS gram FROM g
           WHERE doc_id % 10 = 0),
    cg AS (SELECT doc_id, source, CAST(len(gr) AS BIGINT) AS n_grams,
                  unnest(gr) AS gram
           FROM g WHERE doc_id % 10 <> 0),
    perdoc AS (SELECT cg.doc_id, cg.source, cg.n_grams,
                 count(ev.gram) AS n_hits
               FROM cg LEFT JOIN ev ON ev.gram = cg.gram
               GROUP BY cg.doc_id, cg.source, cg.n_grams),
    cont AS (SELECT source,
               round(avg(CASE WHEN
                 round(CAST(n_hits AS DOUBLE) / n_grams, 6) >=
                   $HealthContamFrac THEN 1 ELSE 0 END), 6)
                 AS contam_doc_share
             FROM perdoc GROUP BY source)
    SELECT base.source, base.n_docs, base.n_tokens, voc.vocab_size,
           kl.kl, dup.dup_doc_share, cont.contam_doc_share
    FROM base JOIN voc USING (source) JOIN kl ON kl.source = base.source
         JOIN dup ON dup.source = base.source
         JOIN cont ON cont.source = base.source
    ORDER BY base.source"""
  }

  // ------------------------------------------------------------------ q127
  // Winnow dedup FAMILIES — the MOSS end-game: documents sharing ≥
  // MinShared selected fingerprints are edges, connected components are
  // the span-sharing families. This clusters what q50 (whole-document
  // MinHash Jaccard) cannot see: two long documents sharing one long
  // plagiarized section have near-zero document Jaccard but a
  // guaranteed shared winnow fingerprint. Fingerprints shared by more
  // than DfMax docs are boilerplate (navigation chrome, licenses) and
  // are EXCLUDED before pair enumeration — the q86 df-cap economics:
  // fan-out per fingerprint is ≤ DfMax² by construction, and a
  // boilerplate fp joining 10⁶ docs pairwise is exactly the blow-up a
  // 100 TB run must not attempt.
  //
  // Scale shape: selection scan-local (winnowBase); the df election and
  // the posting self-join are equi-joins on 16-char fp keys; pair
  // counts are map-side combinable; components run through the capped
  // driver union-find / distributed propagation of
  // DedupOps.connectedComponents (the q50 path).
  private val WinDfMax = 64
  private val WinMinShared = 2

  /** q127's core over an explicit (doc_id, words) frame — public for
    * the hand-fixture spec (shared-run family recovery, df-cap
    * exclusion, transitivity).
    */
  def winnowFamilies(words: DataFrame, k: Int = WinK, w: Int = WinW,
                     dfMax: Int = WinDfMax,
                     minShared: Int = WinMinShared): DataFrame =
    winnowFamiliesFromBase(winnowBase(words, k, w), dfMax, minShared)

  /** [[winnowFamilies]] over an ALREADY-materialized selection. */
  def winnowFamiliesFromBase(base: DataFrame, dfMax: Int = WinDfMax,
                             minShared: Int = WinMinShared): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fp = base.select(col("doc_id"), explode(col("fps")).as("fp"))
    val keep = fp.groupBy(col("fp"))
      .agg(countDistinct(col("doc_id")).as("ndoc"))
      .filter(col("ndoc") >= 2 && col("ndoc") <= dfMax)
      .select(col("fp"))
    val pe = fp.join(keep, Seq("fp"))
    val edges = pe.select(col("fp"), col("doc_id").as("id_a"))
      .join(pe.select(col("fp"), col("doc_id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minShared)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    graft.dedup.DedupOps.connectedComponents(
        base.select(col("doc_id").as("id")), edges)
      .select(col("id").as("doc_id"), col("cluster_id"))
      .withColumn("n_members", count(lit(1))
        .over(Window.partitionBy(col("cluster_id"))).cast("long"))
      .withColumn("is_rep", col("doc_id") === col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  private val q127: Q = (s, d) =>
    winnowFamiliesFromBase(GramMemo.winnow(s, d))

  private lazy val q127Sql = {
    val k = WinK; val ww = WinW
    s"""
    WITH RECURSIVE nd AS (SELECT doc_id, ${OracleSql.normSql} AS n
                          FROM documents),
    wt AS (SELECT doc_id, string_split(n, ' ') AS w FROM nd),
    fps AS (
      SELECT doc_id,
             CASE WHEN len(w) >= ${k + ww - 1} THEN
               list_distinct(list_transform(
                 generate_series(0, len(w) - ${k + ww - 1}),
                 p -> list_min(list_transform(
                   generate_series(p, p + ${ww - 1}),
                   i -> substr(md5(array_to_string(w[i+1:i+$k], ' ')),
                               1, 16)))))
             ELSE [] END AS fps
      FROM wt),
    fp AS (SELECT doc_id, unnest(fps) AS fp FROM fps),
    keep AS (SELECT fp FROM (SELECT fp, count(DISTINCT doc_id) AS ndoc
                             FROM fp GROUP BY fp)
             WHERE ndoc >= 2 AND ndoc <= $WinDfMax),
    pe AS (SELECT doc_id, fp FROM fp JOIN keep USING (fp)),
    edges AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM pe a JOIN pe b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= $WinMinShared),
    sym AS (SELECT id_a AS a, id_b AS b FROM edges
            UNION ALL
            SELECT id_b AS a, id_a AS b FROM edges),
    lbl AS (
        SELECT doc_id AS id, doc_id AS l FROM documents
      UNION
        SELECT s.a AS id, lbl.l AS l
        FROM lbl JOIN sym s ON s.b = lbl.id
        WHERE lbl.l < s.a),
    cc AS (SELECT id AS doc_id, min(l) AS cluster_id FROM lbl GROUP BY id)
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS n_members,
           doc_id = cluster_id AS is_rep
    FROM cc ORDER BY doc_id"""
  }

  // ------------------------------------------------------------------ q128
  // HLL SHARD FOLD — the reason the sketch exists: per-(type, day)
  // register arrays are built once (the stored artifact a production
  // store keeps per shard), then distinct-users-per-type comes from
  // max-merging the STORED 256-byte arrays — no event re-read. Register
  // max-merge is associative/commutative/idempotent, so
  // fold(per-day registers) == sketch(all events) EXACTLY; the query
  // emits both sides and a `fold_exact` flag, and the oracle hard-codes
  // TRUE — a fold bug turns the row red. At 100 TB the direct column is
  // dropped and the daily job touches only register tables.
  private val q128: Q = (s, d) => {
    import graft.dedup.Hll
    val ev = eventsMicros(s, d).select(col("event_type"),
      to_date(col("ts_t")).as("day"), Hll.md5Hex(col("user_id")).as("h"))
    // the "stored" register table: one 256-byte row per (type, day)
    val shards = ev.groupBy(col("event_type"), col("day"))
      .agg(Hll.hllRegisters(col("h")).as("regs"))
      .localCheckpoint()
    val folded = shards.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_shards"),
        round(Hll.hllFold(col("regs")), 4).as("hll_est"))
    val direct = eventsMicros(s, d)
      .select(col("event_type"), Hll.md5Hex(col("user_id")).as("h"))
      .groupBy(col("event_type"))
      .agg(round(Hll.hllDistinct(col("h")), 4).as("direct_est"))
    folded.join(direct, Seq("event_type"))
      .withColumn("fold_exact", col("hll_est") === col("direct_est"))
      .orderBy(col("event_type"))
  }

  private lazy val q128Sql = s"""
    WITH t AS (SELECT event_type AS grp,
                      md5(CAST(user_id AS VARCHAR)) AS h FROM events),
    regs AS (${graft.dedup.Hll.registersSql}),
    est AS (${graft.dedup.Hll.estimateSql}),
    days AS (SELECT event_type AS grp,
               count(DISTINCT CAST(ts AS DATE)) AS n_shards
             FROM events GROUP BY 1)
    SELECT d.grp AS event_type, CAST(d.n_shards AS BIGINT) AS n_shards,
           round(est.est, 4) AS hll_est, round(est.est, 4) AS direct_est,
           TRUE AS fold_exact
    FROM days d JOIN est ON est.grp = d.grp
    ORDER BY event_type"""

  // ------------------------------------------------------------------ q130
  // Embedding centroid drift — the embedding-modality twin of q113's
  // lexical KL monitor: per label, the centroid of the FIRST half of
  // the stream (vec_id < median split) vs the SECOND half, reported as
  // cosine drift (1 − cos) and L2 shift. A drifting encoder, a crawl
  // whose topic mix rotated, or a poisoned batch all show up here
  // before any downstream metric moves. Determinism: per-dim means are
  // 6-dp-pinned BEFORE the distance arithmetic (the q92 rule), so
  // group-sum ulps cannot reach the output.
  //
  // Scale shape: ONE scan — per (label, half) the dim sums are 64
  // aggregate columns with map-side partial aggregation (the q117/q118
  // shape: the exchange carries labels × 2 × 64 doubles, independent of
  // row count); the halves pair up in a label-keyed self-join of that
  // tiny aggregate; the distances are scan-local array folds.
  private val DriftDim = 64

  /** q130's core over an explicit (id, vec, label) frame — public for
    * the hand-fixture spec (planted shift → exact drift arithmetic).
    */
  def centroidDrift(emb: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, splitAt: Long,
                    dim: Int = DriftDim): DataFrame = {
    val sums = (0 until dim).map(j =>
      round(avg(element_at(col(vecCol), j + 1).cast("double")), 6)
        .as(s"_m$j"))
    val cents = emb
      .select(col(labelCol).as("label"),
        (col(idCol) < splitAt).as("first_half"), col(vecCol))
      .groupBy(col("label"), col("first_half"))
      .agg(count(lit(1)).as("n"), sums: _*)
      .select(col("label"), col("first_half"), col("n"),
        array((0 until dim).map(j => col(s"_m$j")): _*).as("c"))
    val a = cents.filter(col("first_half"))
      .select(col("label"), col("n").as("n_first"), col("c").as("ca"))
    val b = cents.filter(!col("first_half"))
      .select(col("label"), col("n").as("n_second"), col("c").as("cb"))
    def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, t) => acc + t)
    a.join(b, Seq("label"))
      .select(col("label").cast("long").as("label"),
        col("n_first"), col("n_second"),
        round(lit(1.0) - dot(col("ca"), col("cb")) /
          (sqrt(dot(col("ca"), col("ca"))) *
            sqrt(dot(col("cb"), col("cb")))), 6).as("cos_drift"),
        round(sqrt(aggregate(zip_with(col("ca"), col("cb"),
          (p, q) => (p - q) * (p - q)), lit(0.0), (acc, t) => acc + t)), 6)
          .as("l2_shift"))
      .orderBy(col("label"))
  }

  private val q130: Q = (s, d) => {
    val emb = embeddings(s, d)
    centroidDrift(emb, "vec_id", "embedding", "label",
      splitAt = 250L)
  }

  private lazy val q130Sql = {
    def dotS(x: String, y: String) =
      s"list_sum(list_transform(generate_series(1, $DriftDim), " +
        s"_j -> $x[_j] * $y[_j]))"
    s"""
    WITH e AS (SELECT label, vec_id < 250 AS first_half,
                 t.j, CAST(embedding[t.j] AS DOUBLE) AS x
               FROM embeddings,
                 unnest(generate_series(1, $DriftDim)) t(j)),
    m AS (SELECT label, first_half, j, round(avg(x), 6) AS mj,
                 count(*) AS n
          FROM e GROUP BY label, first_half, j),
    c AS (SELECT label, first_half, max(n) AS n,
                 list(mj ORDER BY j) AS c
          FROM m GROUP BY label, first_half),
    a AS (SELECT label, n AS n_first, c AS ca FROM c WHERE first_half),
    b AS (SELECT label, n AS n_second, c AS cb FROM c WHERE NOT first_half)
    SELECT CAST(a.label AS BIGINT) AS label,
           CAST(a.n_first AS BIGINT) AS n_first,
           CAST(b.n_second AS BIGINT) AS n_second,
           round(1.0 - ${dotS("ca", "cb")} /
             (sqrt(${dotS("ca", "ca")}) * sqrt(${dotS("cb", "cb")})), 6)
             AS cos_drift,
           round(sqrt(list_sum(list_transform(
             generate_series(1, $DriftDim),
             _j -> (ca[_j] - cb[_j]) * (ca[_j] - cb[_j])))), 6) AS l2_shift
    FROM a JOIN b ON b.label = a.label
    ORDER BY label"""
  }

  val queries: Map[String, Q] = Map(
    "q130_centroid_drift" -> q130,
    "q121_triangle_closure" -> q121,
    "q122_winnow_fingerprints" -> q122,
    "q123_hll_distinct" -> q123,
    "q124_zipf_slope" -> q124,
    "q125_contamination_attribution" -> q125,
    "q126_source_health" -> q126,
    "q127_winnow_families" -> q127,
    "q128_hll_shard_fold" -> q128,
  )

  val oracleSql: Map[String, String] = Map(
    "q121_triangle_closure" -> q121Sql,
    "q122_winnow_fingerprints" -> q122Sql,
    "q123_hll_distinct" -> q123Sql,
    "q124_zipf_slope" -> q124Sql,
    "q125_contamination_attribution" -> q125Sql,
    "q126_source_health" -> q126Sql,
    "q127_winnow_families" -> q127Sql,
    "q128_hll_shard_fold" -> q128Sql,
    "q130_centroid_drift" -> q130Sql,
  )
}
