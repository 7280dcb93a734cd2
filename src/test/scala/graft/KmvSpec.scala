package graft

import org.apache.spark.sql.functions._
import graft.dedup.Kmv

/** KMV distinct-count sketch: exact below k, bounded error above it,
  * duplicate-blind, and invariant to physical partitioning (the merge
  * path must be value-identical to single-partition evaluation).
  */
class KmvSpec extends SparkSuite {
  import spark.implicits._

  private def estimate(values: Seq[String], k: Int,
                       partitions: Int = 4): Double =
    values.toDF("v").repartition(partitions)
      .select(Kmv.hash52(col("v")).as("hv"))
      .agg(Kmv.kmvDistinct(col("hv"), k).as("est"))
      .collect().head.getDouble(0)

  test("below k distinct values the sketch is the exact count") {
    val vs = (1 to 100).map(i => s"tok$i")
    assert(estimate(vs, k = 256) == 100.0)
    // duplicates collapse: 3 copies of each value change nothing
    assert(estimate(vs ++ vs ++ vs, k = 256) == 100.0)
  }

  test("estimation error is bounded at 50k distinct (k=256)") {
    val vs = (1 to 50000).map(i => s"item-$i")
    val est = estimate(vs, k = 256)
    // std error ~ 1/sqrt(k-2) ~ 6.3%; 20% is > 3 sigma
    assert(math.abs(est - 50000) / 50000 < 0.20,
      s"estimate $est too far from 50000")
    // duplicate-blind in the estimation regime too
    assert(estimate(vs ++ vs, k = 256) == est)
  }

  test("merge path is value-identical across partitionings") {
    val vs = (1 to 20000).map(i => s"u$i")
    val one = estimate(vs, k = 64, partitions = 1)
    val many = estimate(vs, k = 64, partitions = 16)
    assert(one == many,
      "partial-sketch merge must reproduce the single-pass sketch bit-for-bit")
  }

}
