package graft

import java.sql.Timestamp

import graft.queries.Pipeline20

/** Batch twenty: closed-form Markov transition entropies on planted
  * deterministic vs uniform event flows (q144).
  */
class Pipeline20Spec extends SparkSuite {
  private def ts(s: Long) = new Timestamp(s * 1000L)

  test("q144 core: deterministic flow has entropy 0 (and +0.0, not " +
    "-0.0); a 50/50 split has ln 2") {
    import spark.implicits._
    // a -> b always (users 1, 2); b -> c or d, once each (users 1, 2)
    val rows = Seq(
      (1L, ts(1), 1L, "a"), (1L, ts(2), 2L, "b"), (1L, ts(3), 3L, "c"),
      (2L, ts(1), 4L, "a"), (2L, ts(2), 5L, "b"), (2L, ts(3), 6L, "d"))
      .toDF("user_id", "ts_t", "event_id", "event_type")
    val m = Pipeline20.markovEntropy(rows).collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getString(4), r.getDouble(5)))
    }.toMap
    // a: 2 transitions, all to b → H = 0 exactly, modal frac 1
    assert(m("a") == ((2L, 1L, 0.0, "b", 1.0)))
    // the -0.0 normalization: 1·ln(1) sums to -0.0 without the +0.0
    assert(1.0 / m("a")._3 == Double.PositiveInfinity,
      "pure flow entropy must be +0.0, not -0.0")
    // b: 50/50 to c/d → H = ln 2 = 0.693147; modal tie breaks to 'c'
    assert(m("b") == ((2L, 2L, 0.693147, "c", 0.5)))
    // c, d: no outgoing transitions → no row
    assert(m.size == 2)
  }

  test("q144: a ts tie breaks on event_id (total order)") {
    import spark.implicits._
    val rows = Seq(
      (1L, ts(1), 2L, "b"), (1L, ts(1), 1L, "a"))
      .toDF("user_id", "ts_t", "event_id", "event_type")
    val m = Pipeline20.markovEntropy(rows).collect()
    assert(m.length == 1 && m.head.getString(0) == "a" &&
      m.head.getString(4) == "b")
  }
}
