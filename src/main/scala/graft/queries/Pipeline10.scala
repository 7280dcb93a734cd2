package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Training-data curation batch ten: in-engine supervised classification
  * (multinomial Naive Bayes over the labeled corpus) and BM25 retrieval
  * scoring — the two ML-adjacent operators a curation stack runs inside
  * the engine rather than shipping data out to a model server.
  */
object Pipeline10 {

  type Q = (SparkSession, String) => DataFrame
  import Tables._

  // ------------------------------------------------------------------- q92
  // Multinomial Naive Bayes language classifier, trained AND applied
  // in-engine (the fasttext-precursor shape of CCNet-style lang/quality
  // filters): per-(word, lang) add-one-smoothed log-likelihoods plus
  // doc-count log-priors, every doc scored by summing its words'
  // per-lang logps, predicted = argmax; output is the confusion matrix
  // against the corpus' own labels. Scale shape: the model is
  // vocab-bounded (one row per word, one logp column per lang) so it
  // BROADCASTS into the token scan; scoring is one doc_id-keyed shuffle
  // with map-side partial sums; the tiny per-lang totals ride 1-row
  // broadcasts. Scores are 6-dp-pinned BEFORE the argmax so summation-
  // order ulps can never flip a prediction between engines; analytic
  // ties resolve to the lexicographically largest language in both.
  private val Langs = Seq("de", "en", "es", "fr", "zh")

  private val q92: Q = (s, d) => {
    // the corpus is exploded exactly TWICE off the words artifact (model
    // counts, scoring join) — the lang totals and vocab size derive from
    // the VOCAB-BOUNDED pivot instead of re-scanning the token stream,
    // and the pivot is what gets checkpointed (the q113 rule: pin the
    // vocab-bounded table, never materialize the exploded token stream —
    // a corpus-sized checkpoint costs more than the passes it saves)
    // conditional sums, NOT .pivot(): Spark lowers pivot to a TWO-level
    // aggregate (groupBy(w, lang) then PivotFirst over w — two shuffles
    // of the token stream); the explicit per-lang when() counts compile
    // to ONE hash aggregate with map-side partials (adjudicated r8: the
    // r7 pivot shape reproduced at ~1.35s isolated, this is ~2x less)
    val cCols = Langs.map(l =>
      sum(when(col("lang") === l, 1L).otherwise(0L)).as(s"c_$l"))
    val wl = GramMemo.words(s, d)
      .select(col("lang"), explode(col("words")).as("w"))
      .groupBy(col("w"))
      .agg(cCols.head, cCols.tail: _*)
      .localCheckpoint()
    // per-lang instance totals + vocab size + doc-count priors, all from
    // the pivot (its zero-fill already absorbed absent languages; priors
    // are Laplace-smoothed (+1 / +|langs|) so an absent language gets a
    // small finite prior instead of ln(0) — which Spark evaluates to
    // null but DuckDB to -inf)
    val clv = wl.agg(
      count(lit(1)).as("v"),
      Langs.map(l => sum(col(s"c_$l")).as(s"cl_$l")): _*)
    val nCols = Langs.map(l =>
      sum(when(col("lang") === l, 1L).otherwise(0L)).as(s"n_$l"))
    val pri = GramMemo.words(s, d)
      .agg(nCols.head, nCols.tail: _*)
      .withColumn("n_all", Langs.map(l => col(s"n_$l")).reduce(_ + _))
    val model = wl.crossJoin(broadcast(clv))
      .select(col("w") +: Langs.map(l =>
        log((col(s"c_$l") + lit(1.0)) / (col(s"cl_$l") + col("v")))
          .as(s"lp_$l")): _*)
    val sumCols = Langs.map(l => sum(col(s"lp_$l")).as(s"s_$l"))
    val sums = GramMemo.words(s, d)
      .select(col("doc_id"), col("lang"), explode(col("words")).as("w"))
      .join(broadcast(model), Seq("w"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sumCols.head, sumCols.tail: _*)
    val scored = sums.crossJoin(broadcast(pri))
      .select(col("doc_id") +: col("lang") +: Langs.map(l =>
        round(col(s"s_$l") +
          log((col(s"n_$l") + lit(1.0)) /
            (col("n_all") + lit(Langs.size))), 6)
          .as(s"sc_$l")): _*)
    // argmax with ties to the lexicographically LARGEST lang: test langs
    // in reverse order, each >= all others
    val pred = Langs.reverse.foldRight(lit(Langs.head): Column) {
      case (l, acc) =>
        when(Langs.filter(_ != l).map(o =>
          col(s"sc_$l") >= col(s"sc_$o")).reduce(_ && _), lit(l))
          .otherwise(acc)
    }
    scored.withColumn("pred", pred)
      .groupBy(col("lang"), col("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("pred"))
  }

  private lazy val q92Sql = {
    val cnt = (l: String) =>
      s"sum(CASE WHEN lang = '$l' THEN 1 ELSE 0 END)"
    val scoreCols = Langs.map(l =>
      s"""round(s_$l + ln((n_$l + 1.0) / (n_all + ${Langs.size})), 6)
          AS sc_$l""").mkString(", ")
    // same reverse-order >= chain as the Spark side
    val predCase = Langs.reverse.init.map { l =>
      val ge = Langs.filter(_ != l).map(o => s"sc_$l >= sc_$o")
        .mkString(" AND ")
      s"WHEN $ge THEN '$l'"
    }.mkString(" ")
    s"""
    WITH toks AS (SELECT doc_id, lang,
        unnest(string_split(${OracleSql.normSql}, ' ')) AS w
      FROM documents),
    wl AS (SELECT w, ${Langs.map(l => s"${cnt(l)} AS c_$l").mkString(", ")}
           FROM toks GROUP BY w),
    cl AS (SELECT ${Langs.map(l => s"${cnt(l)} AS cl_$l").mkString(", ")}
           FROM toks),
    v AS (SELECT count(DISTINCT w) AS v FROM toks),
    pri AS (SELECT
        ${Langs.map(l => s"${cnt(l)} AS n_$l").mkString(", ")},
        count(*) AS n_all
      FROM documents),
    model AS (SELECT w,
        ${Langs.map(l =>
          s"ln((c_$l + 1.0) / (cl_$l + v)) AS lp_$l").mkString(", ")}
      FROM wl, cl, v),
    sums AS (SELECT doc_id, lang,
        ${Langs.map(l => s"sum(lp_$l) AS s_$l").mkString(", ")}
      FROM toks JOIN model USING (w) GROUP BY doc_id, lang),
    scored AS (SELECT doc_id, lang, $scoreCols FROM sums, pri),
    p AS (SELECT lang, CASE $predCase ELSE '${Langs.head}' END AS pred
          FROM scored)
    SELECT lang, pred, CAST(count(*) AS BIGINT) AS n
    FROM p GROUP BY lang, pred ORDER BY lang, pred"""
  }

  // ------------------------------------------------------------------- q93
  // BM25 retrieval top-20 for a fixed term query — the ranking function
  // RAG retrieval stacks run over the chunk store (q59): idf saturating
  // tf with the k1/b length normalization. Scale shape: the query's
  // per-term document frequencies and the corpus constants (N, avgdl)
  // are a handful of values riding broadcasts; per-doc term frequencies
  // come off the memoized session words artifact (zero corpus-text
  // reads) with map-side combine, doc lengths from size(words) with no
  // explode; the global top-20 is the bounded TopKByScore k-heap — no
  // global sort, no per-query window.
  private val BmQuery = RetrievalMemo.Terms
  private val BmK1 = RetrievalMemo.K1
  private val BmB = RetrievalMemo.B
  private val BmTopK = 20

  // q93 is the DESIGNATED PRODUCER of the session BM25 score table
  // (Artifacts.Bm25Scores) that q109/q111/q129 consume — Bench clears it
  // before each q93 repeat so this query measures the retrieval
  // computation while the consumers measure their marginal cost.
  private val q93: Q = (s, d) => {
    import graft.text.Retrieval
    Retrieval.rankedTopK(RetrievalMemo.bm25(s, d), BmTopK)
      .orderBy(col("rnk"))
  }

  private lazy val q93Sql = s"""
    WITH ${OracleSql.bm25ScoresSql(BmQuery, BmK1, BmB)},
    ranked AS (SELECT doc_id, score, row_number() OVER
                 (ORDER BY score DESC, doc_id) AS rnk
               FROM scores)
    SELECT doc_id, score, CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= $BmTopK ORDER BY rnk"""

  // ------------------------------------------------------------------- q94
  // EXACT word-set Jaccard similarity join via prefix filtering
  // (AllPairs/PPJoin) — the provably-complete counterpart of the
  // MinHash-LSH nomination path: finds EVERY pair with J >= 0.5, no
  // false negatives. Candidates share a token among each doc's
  // rarest-first prefix (|d| - ceil(t·|d|) + 1 tokens); verification
  // merge-counts the sorted word arrays scan-local. See
  // DedupOps.prefixJaccardPairs for the completeness argument and the
  // posting-list cap; DedupParitySpec pins parity with brute force.
  private val PrefixT = 0.5

  // q94 is the PRODUCER of the exact ground-truth pair artifact q148's
  // LSH recall audit consumes (Artifacts.ExactPairs declares q94 its
  // producer, so Bench clears it before each q94 repeat).
  private val q94: Q = (s, d) =>
    ClusterMemo.exactPairs(s, d).orderBy(col("id_a"), col("id_b"))

  private lazy val q94Sql = s"""
    WITH nd AS (SELECT doc_id,
                  string_split(${OracleSql.normSql}, ' ') AS w
                FROM documents),
    g AS (SELECT doc_id, ${OracleSql.grams3Sql} AS gr FROM nd),
    dg AS (SELECT doc_id, md5(gram) AS gk
           FROM (SELECT doc_id, unnest(gr) AS gram FROM g)),
    dfs AS (SELECT gk, count(*) AS df FROM dg GROUP BY gk),
    ranked AS (SELECT doc_id, array_agg(gk ORDER BY df, gk) AS rare
               FROM dg JOIN dfs USING (gk) GROUP BY doc_id),
    pre AS (SELECT doc_id, unnest(rare[1 : CAST(len(rare) -
              ceil($PrefixT * len(rare)) + 1 AS INTEGER)]) AS gk
            FROM ranked),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM pre a JOIN pre b
               ON a.gk = b.gk AND a.doc_id < b.doc_id),
    v AS (SELECT id_a, id_b,
            round(CAST(len(list_intersect(ga.gr, gb.gr)) AS DOUBLE) /
              len(list_distinct(ga.gr || gb.gr)), 6) AS jaccard
          FROM cand
            JOIN g ga ON ga.doc_id = id_a
            JOIN g gb ON gb.doc_id = id_b)
    SELECT id_a, id_b, jaccard FROM v
    WHERE jaccard >= $PrefixT ORDER BY id_a, id_b"""

  val queries: Map[String, Q] = Map(
    "q92_nb_lang_confusion" -> q92,
    "q93_bm25_topk" -> q93,
    "q94_prefix_jaccard_pairs" -> q94)

  val oracleSql: Map[String, String] = Map(
    "q92_nb_lang_confusion" -> q92Sql,
    "q93_bm25_topk" -> q93Sql,
    "q94_prefix_jaccard_pairs" -> q94Sql)
}
