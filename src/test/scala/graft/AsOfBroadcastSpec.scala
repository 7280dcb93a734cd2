package graft

import org.apache.spark.sql.functions._
import graft.ops.AsOf

/** The broadcast as-of must agree with the windowed as-of on the same
  * inputs (backward and forward, including exact-key ties and misses).
  */
class AsOfBroadcastSpec extends SparkSuite {
  test("broadcast as-of == windowed as-of (events fixture)") {
    import graft.queries.Tables
    val ev = Tables.eventsMicros(spark, "/root/testdata/sf0.001")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("ts_us").as("c_ts"), col("value").as("c_value"))

    for (fwd <- Seq(false, true)) {
      val win = AsOf.join(purchases, clicks, by = Seq.empty,
        leftOn = "ts_us", rightOn = "c_ts",
        payload = Seq("c_value" -> "v"), forward = fwd)
      val bc = AsOf.joinBroadcast(purchases, clicks,
        leftOn = "ts_us", rightOn = "c_ts",
        payload = Seq("c_value" -> "v"), forward = fwd)
      assert(win.count() == bc.count())
      assert(win.exceptAll(bc).count() == 0 && bc.exceptAll(win).count() == 0,
        s"forward=$fwd mismatch")
    }
  }

  test("joinBroadcast refuses an over-cap right side") {
    import spark.implicits._
    val left = Seq((1L, 10L)).toDF("id", "k")
    val right = spark.range(50).select(col("id").as("rk"),
      (col("id") * 2).as("rv"))
    val e = intercept[IllegalArgumentException] {
      AsOf.joinBroadcast(left, right, "k", "rk",
        Seq("rv" -> "v"), maxRows = 10)
    }
    assert(e.getMessage.contains("AsOf.join"))
  }

  test("a matched right row's NULL payload stays null (no reach-back)") {
    import spark.implicits._
    val left = Seq((1L, 30L)).toDF("id", "k")
    val right = Seq((10L, Some(10.0), Some("a")), (20L, None, Some("b")))
      .toDF("rk", "rv", "rs")
    // backward match is the key=20 row: rv must be null (its own value),
    // not 10.0 from the older row; rs must be "b" from the SAME row
    val win = AsOf.join(left, right, by = Seq.empty,
      leftOn = "k", rightOn = "rk",
      payload = Seq("rv" -> "v", "rs" -> "s"))
    val bc = AsOf.joinBroadcast(left, right, "k", "rk",
      Seq("rv" -> "v", "rs" -> "s"))
    for (df <- Seq(win, bc)) {
      val r = df.head()
      assert(r.isNullAt(r.fieldIndex("v")),
        "matched row's null payload must stay null")
      assert(r.getString(r.fieldIndex("s")) == "b",
        "all payload columns must come from the SAME matched row")
    }
  }

  test("null ordering keys resolve to null payloads (both variants)") {
    import spark.implicits._
    val left = Seq((1L, Some(100L)), (2L, None), (3L, Some(5L)))
      .toDF("id", "k")
    val right = Seq((10L, 1.5), (90L, 2.5)).toDF("rk", "rv")
    for (fwd <- Seq(false, true)) {
      val win = AsOf.join(left, right, by = Seq.empty,
        leftOn = "k", rightOn = "rk",
        payload = Seq("rv" -> "v"), forward = fwd)
      val bc = AsOf.joinBroadcast(left, right, "k", "rk",
        Seq("rv" -> "v"), forward = fwd)
      for (df <- Seq(win, bc)) {
        val nullRow = df.filter(col("id") === 2).head()
        assert(nullRow.isNullAt(nullRow.fieldIndex("v")),
          s"forward=$fwd: null key must yield null payload")
      }
      assert(win.exceptAll(bc).count() == 0 && bc.exceptAll(win).count() == 0)
    }
  }
}
