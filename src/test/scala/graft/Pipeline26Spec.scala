package graft

/** Batch twenty-six: shard Gini and vocabulary growth. Value-exactness
  * vs DuckDB is the driver gate's job; these pin the metric identities
  * and the curves' structural contracts.
  */
class Pipeline26Spec extends SparkSuite {
  private val d = "/root/testdata/sf0.001"

  test("q167: Gini matches the collected-totals identity; straggler >= 1") {
    val r = SparkEntry.queries("q167_shard_gini")(spark, d).collect().head
    val n = r.getAs[Long]("n_shards")
    val tot = r.getAs[Long]("total_tokens")
    val mx = r.getAs[Long]("max_tokens")
    val gini = r.getAs[Double]("gini")
    val strag = r.getAs[Double]("straggler_ratio")
    assert(n == 16 && tot > 0)
    assert(gini >= 0.0 && gini < 1.0)
    assert(strag >= 1.0 - 1e-9, "max shard cannot run under the mean")
    assert(mx * n >= tot)
    // recompute Gini from the manifest the query itself audits
    import org.apache.spark.sql.functions._
    val xs = graft.ops.Shard.manifest(
        spark.read.parquet(s"$d/documents.parquet"), "doc_id",
        graft.text.TextOps.tokenCountWs(col("text")),
        graft.text.TextOps.fingerprint(col("text")), 16)
      .select(col("total_tokens")).collect().map(_.getLong(0))
    val sdiff = (for (a <- xs; b <- xs) yield math.abs(a - b)).sum
    val expected = sdiff.toDouble / (2.0 * xs.length * xs.sum)
    assert(math.abs(gini - expected) < 1e-5,
      s"gini $gini vs identity $expected")
  }

  test("q168: the growth curve is cumulative, bounded and consistent") {
    val rs = SparkEntry.queries("q168_vocab_growth")(spark, d).collect()
    assert(rs.nonEmpty && rs.length <= 10)
    val cumV = rs.map(_.getAs[Long]("cum_vocab"))
    val cumT = rs.map(_.getAs[Long]("cum_tokens"))
    val cumD = rs.map(_.getAs[Long]("cum_docs"))
    for (seq <- Seq(cumV, cumT, cumD))
      assert(seq.zip(seq.tail).forall { case (a, b) => a <= b },
        "cumulative columns must be monotone")
    for (r <- rs)
      assert(r.getAs[Long]("cum_vocab") <= r.getAs[Long]("cum_tokens"),
        "distinct types cannot exceed tokens")
    // every type is new in exactly one bucket
    assert(rs.map(_.getAs[Long]("new_types")).sum == cumV.last)
  }
}
