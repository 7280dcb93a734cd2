package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Batch-thirteen semantics on constructed corpora: RRF fusion must rank
  * a doc leading BOTH retrieval legs first with the exact 2/(k+1) score,
  * keep single-leg docs alive, and order by the fused score; the
  * quantile quality gate's thresholds must equal an independently
  * computed type-1 empirical 90th percentile per source, with ties kept
  * whole (every doc AT the threshold survives).
  */
class Pipeline13Spec extends SparkSuite {
  import spark.implicits._

  /** Stages documents + embeddings; vec i's embedding is a 64-dim unit
    * basis-ish vector rotated by `rot(i)`, so cosine(vec0, vec i) is 1.0
    * for rot(i)=0 and strictly decreasing in |rot(i)| — hand-controllable
    * semantic ranks.
    */
  private def stage(docs: Seq[(Long, String)], rot: Long => Int): String = {
    val dir = Files.createTempDirectory("p13").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    docs.map { case (id, _) =>
      val r = rot(id)
      // e = cos(theta)*b0 + sin(theta)*b1 with theta = r * 0.2
      val th = r * 0.2
      val emb = Array.tabulate(64)(j =>
        if (j == 0) math.cos(th).toFloat
        else if (j == 1) math.sin(th).toFloat else 0.0f)
      (id, emb, 0)
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("rrf fusion: leader of both legs is #1 with score 2/(k+1); " +
    "single-leg docs survive") {
    // doc 0 leads BOTH legs: most query-term occurrences AND rotation 0
    // (the query vector is vec 0's own embedding). doc 4 has NO query
    // terms — semantic-only. doc 5 is lexical-only-ish (far rotation).
    val docs = Seq[(Long, String)](
      (0L, "spark window merge spark window merge spark window merge"),
      (1L, "spark window merge filler words here"),
      (2L, "spark window other words in this doc"),
      (3L, "merge plus other words in this doc"),
      (4L, "no query terms at all in this one"),
      (5L, "spark spark window window merge merge"))
    val d = stage(docs, id => if (id == 5L) 7 else id.toInt)
    val out = SparkEntry.queries("q109_rrf_fusion")(spark, d)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getDouble(3), r.getLong(4)))
    // every doc appears: 5 lexical (doc 4 has no terms) + all 6 semantic
    assert(out.map(_._1).toSet == docs.map(_._1).toSet)
    val byDoc = out.map(r => r._1 -> r).toMap
    // doc 0 leads both legs -> unique maximum rrf = 1/61 + 1/61
    assert(byDoc(0L)._5 == 1L, "dual leader must fuse to rank 1")
    assert(byDoc(0L)._4 == BigDecimal(2.0 / 61.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // doc 4: no lexical rank, but alive through the semantic leg
    assert(byDoc(4L)._2.isEmpty && byDoc(4L)._3.nonEmpty)
    // fused order is rrf desc (ties doc_id asc) with ranks 1..n
    assert(out.sortBy(_._5).map(_._4).reverse.sorted.sameElements(
      out.map(_._4).sorted))
    assert(out.map(_._5).sorted.sameElements(1L to out.length))
  }

  test("quality gate thresholds equal an independent per-source " +
    "type-1 p90; ties at the threshold all survive") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q110_quality_gate")(spark, d)
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getLong(2), r.getLong(3))).toList
    // independent recomputation: collect per-doc rounded scores and do
    // the quantile arithmetic in plain Scala (sort, ceil-index pick)
    val scored = graft.queries.Tables.documents(spark, d)
      .select(col("source"),
        round(TextOps.qualityScore(col("text")), 6).as("qs"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    assert(out.map(_._1).toSet == scored.keySet)
    for ((src, thr, nTotal, nKept) <- out) {
      val qs = scored(src)
      val n = qs.length
      assert(nTotal == n.toLong, s"$src total")
      val cutoff = (9 * n + 9) / 10 // ceil(0.9 n) in integers
      val expectThr = qs(cutoff - 1) // type-1 quantile: cutoff-th smallest
      assert(thr == expectThr, s"$src threshold")
      assert(nKept == qs.count(_ >= expectThr).toLong, s"$src kept")
      assert(nKept >= 1 && nKept < n)
    }
  }

  test("quality gate keeps whole tie groups at the threshold") {
    // source with 10 docs: 9 share a high-quality text (mean word length
    // in the [3,10] band), 1 scores strictly lower (2-char words). The
    // sorted scores are [low, high x9]; cutoff = ceil(0.9*10) = 9 picks
    // the 9th smallest = the shared high score as threshold, so the
    // WHOLE 9-doc tie group survives and only the low doc drops. A
    // count-based top-10% gate would keep 1 doc — this pins the gate as
    // score-based with ties kept whole.
    val good = "alpha beta gamma delta epsilon zeta"
    val bad = "aa bb cc dd ee ff"
    val docs = (0L until 9L).map(i => (i, good)) :+ (9L, bad)
    val d = stage(docs, _ => 0)
    val out = SparkEntry.queries("q110_quality_gate")(spark, d)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2),
        r.getLong(3)))
    assert(out.length == 1)
    val (_, thr, nTotal, nKept) = out.head
    val Seq(goodQs, badQs) = Seq(good, bad).map(t =>
      spark.range(1).select(round(TextOps.qualityScore(lit(t)), 6))
        .head().getDouble(0))
    assert(goodQs > badQs, "fixture must order as constructed")
    assert(nTotal == 10L)
    assert(thr == goodQs, "threshold must be the shared tie score")
    assert(nKept == 9L, "the whole tie group at the threshold survives")
  }
}
