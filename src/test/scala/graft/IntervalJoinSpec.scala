package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.ops.IntervalJoin

/** Bucketed interval join: parity with the naive range join (including
  * window-boundary semantics) and the skew-bound argument.
  */
class IntervalJoinSpec extends SparkSuite {
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  test("bucketed equals the naive range join, boundaries included") {
    // deterministic pseudo-random events for 3 keys, PLUS exact-boundary
    // pairs: r at l.ts (inclusive) and r at l.ts + W (exclusive)
    val w = 100L
    val base = for (k <- 1L to 3L; i <- 0L until 40L)
      yield (k, ts(i * 37L % 1000L + k))
    val left = (base :+ ((9L, ts(500L)))).toDF("k", "lts")
    val right = (base.map { case (k, t) => (k, ts(t.getTime / 1000L + 13L)) }
      ++ Seq((9L, ts(500L)), (9L, ts(600L)))).toDF("k", "rts")
    val got = IntervalJoin.bucketed(left, right, "k", "lts", "rts", w)
      .select("k", "lts", "rts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    val want = left.join(right, Seq("k"))
      .filter(col("lts") <= col("rts") &&
        col("rts") < col("lts") + expr(s"INTERVAL $w SECONDS"))
      .select("k", "lts", "rts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    assert(want.nonEmpty && got == want)
    // the exact-boundary contract: [l, l+W) — 500 matches, 600 does not
    assert(got.contains((9L, ts(500L), ts(500L))))
    assert(!got.exists { case (k, _, r) => k == 9L && r == ts(600L) })
  }

  test("a right row matching from its own and previous bucket appears once") {
    // l at 95, r at 105, window 100: same pair reachable only via the
    // r-side bucket-1 branch; l at 100, r at 105 via the same-bucket
    // branch — and no pair may duplicate
    val left = Seq((1L, ts(95L)), (1L, ts(100L))).toDF("k", "lts")
    val right = Seq((1L, ts(105L))).toDF("k", "rts")
    val got = IntervalJoin.bucketed(left, right, "k", "lts", "rts", 100L)
      .select("k", "lts", "rts").collect()
    assert(got.length == 2, s"expected 2 distinct pairs, got ${got.length}")
  }

  test("snapshot diff classifies all four statuses") {
    import graft.ops.SnapshotDiff
    val a = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "fp")
    val b = Seq((2L, "y"), (3L, "zz"), (4L, "w")).toDF("id", "fp")
    val got = SnapshotDiff.diff(a, b, "id", "fp").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("hot-cell work is output-bound, not history-bound") {
    // one user with 2000 events inside a single window: candidate pairs
    // within the (key, bucket) cell are ~the TRUE match set (every pair
    // is a real [l, l+W) hit), so the cell's cost is proportional to the
    // answer, never to spurious history — the join completes and returns
    // exactly the n*(n+1)/2 in-window pairs
    val n = 2000
    val evs = (0 until n).map(i => (7L, ts(i.toLong))).toDF("k", "lts")
    val rvs = evs.select(col("k"), col("lts").as("rts"))
    val cnt = IntervalJoin.bucketed(evs, rvs, "k", "lts", "rts", 4000L)
      .count()
    assert(cnt == n.toLong * (n + 1) / 2)
  }
}
