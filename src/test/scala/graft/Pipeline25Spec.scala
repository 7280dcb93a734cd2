package graft

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch twenty-five: decayed engagement, cluster edge density, LSH
  * tuning curve. Value-exactness vs DuckDB is the driver gate's job;
  * these pin the closed-form decay arithmetic and each table's
  * structural contract.
  */
class Pipeline25Spec extends SparkSuite {
  private val d = "/root/testdata/sf0.001"

  test("q164: planted half-life decay is exact powers of two") {
    val dir = Files.createTempDirectory("p25_events")
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", LongType), // epoch-nanos, the driver layout
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    val anchorNs = 1700000000L * 1000000000L
    val weekNs = 604800L * 1000000000L
    val rows = Seq(
      // user 1: one event AT the anchor -> k = 0, weight 1
      Row(1L, anchorNs, 1L, "view", 8.0, "{}"),
      // user 2: same value five half-lives back -> weight 1/32
      Row(2L, anchorNs - 5L * weekNs, 2L, "view", 8.0, "{}"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite")
      .parquet(dir.resolve("events.parquet").toString)
    val got = SparkEntry.queries("q164_decayed_engagement")(
        spark, dir.toString)
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("n_events"), r.getAs[Long]("freshest_k"),
        r.getAs[Double]("decayed_value"), r.getAs[Double]("decayed_events")))
    assert(got.toSeq == Seq(
      (1L, 1L, 0L, 8.0, 1.0),
      (2L, 1L, 5L, 0.25, 0.03125)),
      s"exact power-of-two decay, got ${got.toSeq}")
    graft.queries.ArtifactStore.deleteTree(dir.toFile)
  }

  test("q164: the board table ranks by decayed value, bounded at 100 rows") {
    val rs = SparkEntry.queries("q164_decayed_engagement")(spark, d).collect()
    assert(rs.nonEmpty && rs.length <= 100)
    val dv = rs.map(_.getAs[Double]("decayed_value"))
    assert(dv.zip(dv.tail).forall { case (a, b) => a >= b },
      "rows must be ordered by decayed value")
    for (r <- rs)
      assert(r.getAs[Double]("decayed_events") <=
        r.getAs[Long]("n_events").toDouble + 1e-9,
        "decayed event count cannot exceed the raw count")
  }

  test("q165: density is in (0, 1], edges fit C(n,2), and chaining flags match") {
    val rs = SparkEntry.queries("q165_cluster_density")(spark, d).collect()
    assert(rs.nonEmpty, "sf0.001 must have at least one >=2 cluster")
    for (r <- rs) {
      val n = r.getAs[Long]("n_members"); val e = r.getAs[Long]("n_edges")
      val dens = r.getAs[Double]("density")
      val chained = r.getAs[Boolean]("is_chained")
      val c2 = n * (n - 1) / 2
      assert(n >= 2 && e >= 1 && e <= c2,
        s"connected components need >=1 edge and <= C(n,2): n=$n e=$e")
      assert(dens > 0.0 && dens <= 1.0)
      assert(chained == (e < c2))
    }
  }

  test("q166: expected recall is monotone in bands and bounded by [0, 1]") {
    val rs = SparkEntry.queries("q166_lsh_tuning_curve")(spark, d)
      .collect().map(r => (r.getAs[Long]("bands"),
        r.getAs[Double]("expected_recall")))
    assert(rs.map(_._1).toSeq == Seq(8L, 4L, 2L, 1L))
    for ((_, er) <- rs) assert(er >= 0.0 && er <= 1.0)
    // for any s in [0,1], splitting the same 8 hashes into more bands
    // of fewer rows can only increase detection probability
    val er = rs.map(_._2)
    assert(er.zip(er.tail).forall { case (a, b) => a >= b - 1e-9 },
      s"recall must be monotone in bands: ${er.toSeq}")
  }
}
