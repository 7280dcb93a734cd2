package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sim.Similarity

/** Quality evidence for the ANN scale path, now load-bearing for three
  * queries (q36 labels, q84 hard negatives, q109 fusion): the IVF-cell
  * search must recover most of the brute-force top-k across a k sweep
  * (labels in the synthetic data are genuine clusters, so recall should
  * be high, not incidental), and the END metrics built on embeddings
  * must be stable when the store is int8-quantized (the 4:1 compression
  * a 100 TB embedding store applies before anything else touches it).
  */
class AnnRecallSpec extends SparkSuite {
  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  /** IVF recall@k vs brute force for the first 30 query vectors. */
  private def ivfRecallAtK(k: Int, nprobe: Int): Double = {
    import spark.implicits._
    val (cells, centroids) = Similarity.kmeansCells(emb, "embedding", 8)
    val queryRows = emb.filter(col("vec_id") < 30)
      .select(col("vec_id"), col("embedding")).collect()
    val probes = queryRows.flatMap { r =>
      val qid = r.getLong(0)
      val vec = r.getSeq[Float](1)
      Similarity.probeCells(vec, centroids, nprobe).map(c => (qid, c))
    }.toSeq.toDF("q_id", "cell")
    val queries = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val exact = Similarity.topK(queries, emb, k)
      .select(col("q_id"), col("vec_id"))
    val candidates = cells.join(probes, cells("cell") === probes("cell"))
      .select(probes("q_id"), cells("vec_id"), cells("embedding"))
    val reranked = candidates
      .join(queries, Seq("q_id"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim",
        round(Similarity.cosine(col("q_vec"), col("embedding")), 6))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("vec_id"))
    val hits = exact.join(reranked, Seq("q_id", "vec_id"), "inner").count()
    hits.toDouble / exact.count()
  }

  test("KMeans-IVF recall@{1,5,10} sweep vs brute force (nprobe=3 of 8)") {
    // floors pinned just under measured (0.93 / 0.81 / 0.82 on the
    // deterministic fixture): a regression in the sketch, the centroid
    // seeding or the probe order shows up as a broken floor, and
    // recall@1 leading the sweep (the nearest neighbor almost always
    // shares the query's cell) is itself part of the pin
    val floors = Map(1 -> 0.90, 5 -> 0.78, 10 -> 0.78)
    val got = floors.keys.toSeq.sorted.map { k =>
      val r = ivfRecallAtK(k, nprobe = 3)
      info(f"recall@$k%-2d (nprobe=3/8) = $r%.3f")
      assert(r >= floors(k), f"recall@$k $r%.3f below floor ${floors(k)}")
      k -> r
    }.toMap
    assert(got(1) >= got(10),
      "recall@1 should not trail recall@10 — probe order is broken")
  }

  /** The embeddings frame int8-quantized and affinely reconstructed —
    * what search sees when it runs on codes (q71's scheme, exactly).
    */
  private def requantized: DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    emb.select(col("vec_id"), col("label"),
        column(graft.sim.QuantizeInt8(expression(col("embedding"))))
          .as("_q"))
      .select(col("vec_id"), col("label"),
        transform(col("_q.codes"), c =>
          (col("_q.v_min") + c.cast("double") *
            (col("_q.v_max") - col("_q.v_min")) / lit(255.0)).cast("float"))
          .as("embedding"))
  }

  test("q109 fused top-20 is stable under int8 re-quantization") {
    // the end metric of the hybrid retrieval stack: RRF only consumes
    // RANKS, so it should absorb the small cosine perturbations int8
    // reconstruction introduces — if the fused list churns, either the
    // quantizer or the fusion got worse. (q111's end metric is purely
    // lexical — BM25 + RM3 term mining — and never touches embeddings,
    // so re-quantization cannot move it by construction.)
    val orig = graft.queries.Pipeline13
      .rrfFusion(spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"), emb)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val req = graft.queries.Pipeline13
      .rrfFusion(spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"), requantized)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val overlap = orig.intersect(req).size.toDouble / orig.size
    info(f"fused top-${orig.size} overlap after re-quantization = $overlap%.3f")
    assert(overlap >= 0.9,
      f"fusion end-metric moved under re-quantization: overlap $overlap%.3f")
  }

  test("q84 hard-negative pairs are stable under int8 re-quantization") {
    // the other ANN-cell consumer: top-3 cross-label neighbors per
    // anchor. Small sim perturbations may swap ranks 2/3, so the pin is
    // PAIR overlap (who is a hard negative of whom), not rank equality.
    val orig = graft.sim.Similarity
      .hardNegatives(emb.select(col("vec_id"), col("label"),
        col("embedding")), k = 3)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val req = graft.sim.Similarity
      .hardNegatives(requantized.select(col("vec_id"), col("label"),
        col("embedding")), k = 3)
      .select(col("q_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = orig.intersect(req).size.toDouble / orig.size
    info(f"hard-negative pair overlap after re-quantization = $overlap%.3f")
    assert(overlap >= 0.85,
      f"hard-negative mining moved under re-quantization: $overlap%.3f")
  }
}
