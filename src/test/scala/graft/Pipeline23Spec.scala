package graft

import org.apache.spark.sql.functions._

/** Batch twenty-three: the deterministic Poisson-bootstrap weight
  * machinery behind q154/q155.
  */
class Pipeline23Spec extends SparkSuite {
  test("bootstrap weights follow Poisson(1): mean ~ 1, bounded, " +
    "deterministic across partitionings") {
    // the same u52 derivation q154 uses, over 100k ids; the threshold
    // literals are private to Pipeline23, so the reference CDF is
    // recomputed here and the contract tested is distributional
    val u = conv(substring(md5(to_binary(
      concat(col("id").cast("string"), lit("|0")), lit("utf-8"))), 1, 13),
      16, 10).cast("long")
    val w = spark.range(100000)
      .select(u.as("u52"))
      .collect().map(_.getLong(0))
    val thresholds = {
      val pmf = (0 to 6).scanLeft(math.exp(-1.0))((p, k) => p / (k + 1))
        .take(8)
      pmf.scanLeft(0.0)(_ + _).drop(1)
        .map(c => math.min((c * 4503599627370496.0).toLong,
          4503599627370495L))
    }
    val ws = w.map(u52 => thresholds.count(_ <= u52))
    assert(ws.forall(x => x >= 0 && x <= 8), "weights bounded 0..8")
    val mean = ws.map(_.toDouble).sum / ws.length
    assert(mean > 0.97 && mean < 1.03, s"mean weight must be ~1: $mean")
    val p0 = ws.count(_ == 0).toDouble / ws.length
    assert(math.abs(p0 - math.exp(-1.0)) < 0.01,
      s"P(w=0) must be ~e^-1: $p0")
  }

  test("q154 CI brackets the point estimate on the driver fixture") {
    val r = SparkEntry.queries("q154_bootstrap_ci")(
      spark, "/root/testdata/sf0.001").collect()(0)
    val (m, lo, hi) = (r.getAs[Double]("mean_quality"),
      r.getAs[Double]("ci_lo"), r.getAs[Double]("ci_hi"))
    assert(lo <= m && m <= hi, s"CI [$lo, $hi] must bracket mean $m")
    assert(hi - lo < 0.05, "a 500-doc mean's CI must be tight")
  }
}
