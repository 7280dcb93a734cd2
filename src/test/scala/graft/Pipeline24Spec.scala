package graft

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch twenty-four: the Bloom FPR audit, label silhouette, winsorized
  * means, filter kappa and vocabulary drift. Value-exactness vs DuckDB
  * is the driver gate's job; these specs pin the closed-form planted
  * cases and the structural invariants each metric promises.
  */
class Pipeline24Spec extends SparkSuite {
  private val d = "/root/testdata/sf0.001"

  test("q159: the audit's accounting is internally consistent and the filter has no false negatives") {
    val r = SparkEntry.queries("q159_bloom_fpr_audit")(spark, d)
      .collect().head
    val nEval = r.getAs[Long]("n_eval_grams")
    val nBits = r.getAs[Long]("n_bits_set")
    val nCorpus = r.getAs[Long]("n_corpus_grams")
    val nNeg = r.getAs[Long]("n_neg")
    val nFp = r.getAs[Long]("n_false_pos")
    assert(nEval > 0 && nCorpus > 0)
    // K hashes per gram set at most K*E distinct bits, at least 1
    assert(nBits > 0 && nBits <= graft.dedup.Bloom.K * nEval)
    assert(nBits <= graft.dedup.Bloom.M)
    // negatives are the corpus grams not in the eval set; false
    // positives are a subset of them
    assert(nNeg <= nCorpus && nFp <= nNeg)
    val fpr = r.getAs[Double]("fpr")
    val fill = r.getAs[Double]("fill")
    val theory = r.getAs[Double]("theory_fpp")
    assert(fpr >= 0.0 && fpr <= 1.0)
    assert(fill > 0.0 && fill <= 1.0)
    // theory = fill^K to micro resolution (both derived from n_bits_set)
    assert(math.abs(theory - math.pow(fill, graft.dedup.Bloom.K)) < 1e-4)
  }

  test("q160: two orthogonal planted clusters score silhouette 1.0") {
    val dir = Files.createTempDirectory("p24_emb")
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    def vec(hot: Int): Seq[Float] =
      (0 until 64).map(i => if (i == hot) 1.0f else 0.0f)
    // labels live on orthogonal axes: own-centroid distance 0, other 1
    val rows = (0 until 8).map { i =>
      Row(i.toLong, vec(if (i % 2 == 0) 0 else 1), i % 2)
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite")
      .parquet(dir.resolve("embeddings.parquet").toString)
    val got = SparkEntry.queries("q160_label_silhouette")(
        spark, dir.toString)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        r.getAs[Double]("mean_silhouette"), r.getAs[Double]("neg_frac")))
    assert(got.toSeq == Seq((0, 4L, 1.0, 0.0), (1, 4L, 1.0, 0.0)))
    graft.queries.ArtifactStore.deleteTree(dir.toFile)
  }

  test("q160: board silhouettes stay in [-1, 1]") {
    val rs = SparkEntry.queries("q160_label_silhouette")(spark, d).collect()
    assert(rs.nonEmpty)
    for (r <- rs) {
      val m = r.getAs[Double]("mean_silhouette")
      val nf = r.getAs[Double]("neg_frac")
      assert(m >= -1.0 && m <= 1.0, s"silhouette out of range: $m")
      assert(nf >= 0.0 && nf <= 1.0)
    }
  }

  test("q161: winsorized means sit inside the clip bounds; clip counts are consistent") {
    val rs = SparkEntry.queries("q161_winsorized_values")(spark, d).collect()
    assert(rs.nonEmpty)
    for (r <- rs) {
      val p01 = r.getAs[Double]("p01"); val p99 = r.getAs[Double]("p99")
      val n = r.getAs[Long]("n_events")
      val cl = r.getAs[Long]("n_clipped_lo")
      val ch = r.getAs[Long]("n_clipped_hi")
      val mw = r.getAs[Double]("mean_winsorized")
      assert(p01 <= p99)
      // type-1 p01/p99 ranks bound the clip mass by construction
      assert(cl < n && ch < n && cl + ch < n)
      assert(mw >= p01 - 1e-9 && mw <= p99 + 1e-9,
        s"winsorized mean $mw escapes [$p01, $p99]")
    }
  }

  test("q162: the contingency sums to n and kappa respects its bounds") {
    val r = SparkEntry.queries("q162_filter_kappa")(spark, d).collect().head
    val n = r.getAs[Long]("n")
    val cells = Seq("n_both", "n_q_only", "n_lm_only", "n_neither")
      .map(r.getAs[Long](_))
    assert(cells.sum == n && n > 0)
    val po = r.getAs[Double]("po"); val pe = r.getAs[Double]("pe")
    val k = r.getAs[Double]("kappa")
    assert(po >= 0.0 && po <= 1.0 && pe > 0.0 && pe < 1.0)
    assert(k >= -1.0 && k <= 1.0)
    // kappa's defining identity at micro resolution
    assert(math.abs(k - (po - pe) / (1 - pe)) < 1e-4)
  }

  test("q163: the drift table is the top-25 by mass with non-negative chi-square") {
    val rs = SparkEntry.queries("q163_vocab_drift")(spark, d).collect()
    assert(rs.length == 25)
    val mass = rs.map(r => r.getAs[Long]("c0") + r.getAs[Long]("c1"))
    for (r <- rs) {
      assert(r.getAs[Double]("chi2") >= 0.0)
      assert(r.getAs[Long]("c0") + r.getAs[Long]("c1") > 0)
    }
    // chi2 ordering is the output contract; mass selected the rows
    val chis = rs.map(_.getAs[Double]("chi2"))
    assert(chis.zip(chis.tail).forall { case (a, b) => a >= b })
    assert(mass.min > 0)
  }
}
