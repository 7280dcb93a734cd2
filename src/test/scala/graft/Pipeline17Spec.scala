package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.queries.Pipeline17

/** Batch seventeen: DDSketch bucket arithmetic + error guarantee on a
  * planted integer ladder (q131), second-order path lift on hand-built
  * journeys (q132), and closed-form quartile phases on a score ladder
  * (q133).
  */
class Pipeline17Spec extends SparkSuite {
  test("q131 core: cents ladder 1..1000 — exact type-1 quantiles and " +
    "sketch lower bounds with guaranteed relative error") {
    import spark.implicits._
    // values 0.01 .. 10.00 → cents 1..1000, one each
    val ev = (1 to 1000).map(c => ("a", c / 100.0)).toDF("event_type", "value")
    val r = Pipeline17.valueQuantiles(ev).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(row.fieldIndex("n_events")) == 1000L)
    // exact: 500th/900th/990th smallest cent
    assert(row.getLong(row.fieldIndex("p50_exact")) == 500L)
    assert(row.getLong(row.fieldIndex("p90_exact")) == 900L)
    assert(row.getLong(row.fieldIndex("p99_exact")) == 990L)
    // sketch lower bounds: c=500 → octave 9, sub (500*8) div 256 = 15,
    // lb = 15·32 = 480; c=900 → octave 10, (900*8) div 512 = 14,
    // lb = 14·64 = 896; c=990 → (990*8) div 512 = 15, lb = 960
    assert(row.getLong(row.fieldIndex("p50_sketch")) == 480L)
    assert(row.getLong(row.fieldIndex("p90_sketch")) == 896L)
    assert(row.getLong(row.fieldIndex("p99_sketch")) == 960L)
    assert(row.getDouble(row.fieldIndex("rel_err_p50")) == 0.04)
    assert(row.getDouble(row.fieldIndex("rel_err_p90")) == 0.004444)
    assert(row.getDouble(row.fieldIndex("rel_err_p99")) == 0.030303)
  }

  test("q131: the bucket map is fixed-width — every cent value in " +
    "1..100000 lands in one of at most 8 buckets per octave, and the " +
    "lower bound under-estimates by less than 12.5 percent") {
    import spark.implicits._
    val df = (1L to 100000L).toDF("c").selectExpr("c",
      s"${graft.dedup.Dd.bucketLbSqlExpr("c")} AS lb")
    val agg = df.agg(
      countDistinct(col("lb")).as("nb"),
      max((col("c") - col("lb")) / col("c")).as("maxerr"),
      sum(when(col("lb") > col("c"), 1).otherwise(0)).as("over")).collect()(0)
    // 7 exact buckets below 8, then ≤8 per octave over 14 octaves
    assert(agg.getLong(0) <= 7 + 8 * 14)
    assert(agg.getDouble(1) < 0.125)
    assert(agg.getLong(2) == 0L) // lb is a LOWER bound everywhere
  }

  test("DdSketchQuantile aggregate == q131's relational readout, and " +
    "is partitioning-invariant (mergeable)") {
    import spark.implicits._
    import graft.dedup.Dd
    // a skewed mixed ladder across two groups
    val rows = ((1 to 500).map(c => ("a", c.toLong)) ++
      (1 to 300).map(c => ("a", (c * 7).toLong)) ++
      (1 to 400).map(c => ("b", (c * 3 + 1).toLong)))
    val df = rows.toDF("event_type", "c")
    def agg(parts: Int) = df.repartition(parts)
      .groupBy(col("event_type"))
      .agg(Dd.ddQuantile(col("c") * 25, 0.50).as("p50"),
        Dd.ddQuantile(col("c") * 25, 0.90).as("p90"),
        Dd.ddQuantile(col("c") * 25, 0.99).as("p99"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val one = agg(1)
    assert(agg(7) == one, "sketch must be merge-order invariant")
    // relational q131 readout over the same cents: value = c/4.0 is
    // binary-exact, so floor(100·value) = 25·c exactly — both forms
    // sketch the identical integer stream
    val rel = Pipeline17.valueQuantiles(
      df.select(col("event_type"), (col("c") / 4.0).as("value")))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("p50_sketch"), r.getAs[Long]("p90_sketch"),
          r.getAs[Long]("p99_sketch")))).toMap
    assert(one == rel,
      "aggregate readout must equal the relational bucket-histogram form")
  }

  private def ts(s: Long) = new Timestamp(s * 1000L)

  test("q132 core: planted journeys — exact triple counts and " +
    "second-order lift") {
    import spark.implicits._
    // user 1: a b c ; user 2: a b c ; user 3: x b c ; user 4: a b d
    // n(abc)=2, n(ab)=3, n(bc)=3, n(b)=4 → lift = 2·4/(3·3) = 0.888889
    val rows = Seq(
      (1L, ts(1), 1L, "a"), (1L, ts(2), 2L, "b"), (1L, ts(3), 3L, "c"),
      (2L, ts(1), 4L, "a"), (2L, ts(2), 5L, "b"), (2L, ts(3), 6L, "c"),
      (3L, ts(1), 7L, "x"), (3L, ts(2), 8L, "b"), (3L, ts(3), 9L, "c"),
      (4L, ts(1), 10L, "a"), (4L, ts(2), 11L, "b"), (4L, ts(3), 12L, "d"))
      .toDF("user_id", "ts_t", "event_id", "event_type")
    val byPath = Pipeline17.eventPaths(rows).collect().map { r =>
      (r.getAs[String]("e1"), r.getAs[String]("e2"), r.getAs[String]("e3")) ->
        ((r.getAs[Long]("n"), r.getAs[Long]("n_users"),
          r.getAs[Double]("lift")))
    }.toMap
    assert(byPath(("a", "b", "c")) == ((2L, 2L, 0.888889)))
    // x→b→c: n=1, n(xb)=1, n(bc)=3, n(b)=4 → 1·4/(1·3) = 1.333333
    assert(byPath(("x", "b", "c")) == ((1L, 1L, 1.333333)))
    // a→b→d: n=1, n(ab)=3, n(bd)=1, n(b)=4 → 4/3 = 1.333333
    assert(byPath(("a", "b", "d")) == ((1L, 1L, 1.333333)))
    assert(byPath.size == 3)
  }

  test("q132: ordering is total — a ts tie breaks on event_id") {
    import spark.implicits._
    val rows = Seq(
      (1L, ts(1), 2L, "b"), (1L, ts(1), 1L, "a"), (1L, ts(2), 3L, "c"))
      .toDF("user_id", "ts_t", "event_id", "event_type")
    val paths = Pipeline17.eventPaths(rows).collect()
    assert(paths.length == 1)
    assert(paths.head.getAs[String]("e1") == "a")
    assert(paths.head.getAs[String]("e2") == "b")
    assert(paths.head.getAs[String]("e3") == "c")
  }

  test("q133 core: score ladder 0.1..0.8 — closed-form type-1 quartile " +
    "thresholds, phase budgets, integer-exact means") {
    import spark.implicits._
    val sc = (1 to 8).map(i => (i / 10.0, i * 10L)).toDF("qs", "n_tok")
    val out = Pipeline17.curriculumPhases(sc).collect().map { r =>
      r.getAs[Int]("phase") -> ((r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"), r.getAs[Double]("qs_lo"),
        r.getAs[Double]("qs_hi"), r.getAs[Double]("mean_qs")))
    }.toMap
    // n=8 → t25 = 2nd smallest = 0.2, t50 = 4th = 0.4, t75 = 6th = 0.6
    assert(out(0) == ((3L, 210L, 0.6, 0.8, 0.7))) // 0.6 0.7 0.8
    assert(out(1) == ((2L, 90L, 0.4, 0.5, 0.45))) // 0.4 0.5
    assert(out(2) == ((2L, 50L, 0.2, 0.3, 0.25))) // 0.2 0.3
    assert(out(3) == ((1L, 10L, 0.1, 0.1, 0.1))) // 0.1
  }
}
