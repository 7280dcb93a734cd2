package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import graft.queries.Tables
import graft.streaming.EventStreams

/** events.parquet has shipped `ts` as TIMESTAMP(NANOS)-as-int64 (legacy,
  * readable only under nanosAsLong) and as native TIMESTAMP(MICROS)/NTZ
  * across driver testdata generations. Both read boundaries —
  * Tables.eventsMicros (batch) and EventStreams.readEvents (stream) —
  * must normalize either physical shape to the same `ts_us`/`ts_t`
  * contract, or a regeneration silently breaks every event query. This
  * spec writes the SAME logical rows in both shapes and pins equality.
  */
class EventsShapeSpec extends SparkSuite {
  import spark.implicits._

  // one row per event type, microsecond-precision offsets included so
  // truncation bugs (nanos vs micros vs millis) can't cancel out
  private val rows = Seq(
    (0L, 0L, 1L, "view", 1.5), (1L, 1L, 1L, "click", 2.5),
    (2L, 999999L, 2L, "view", 0.0), (3L, 60000000L, 2L, "purchase", 9.9),
    (4L, 86400000000L, 3L, "error", -1.0))

  /** Writes the fixture rows with `ts` in the given physical shape and
    * returns the staged directory (dir/events.parquet).
    */
  private def stage(shape: String): String = {
    val dir = Files.createTempDirectory(s"events_$shape").toString
    val base = rows.toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
    val withTs = shape match {
      case "nanos_long" => base.withColumn("ts", col("us") * 1000L)
      case "micros_ntz" =>
        base.withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType))
      case "string_iso" => // a hypothetical THIRD drift shape
        base.withColumn("ts",
          date_format(timestamp_micros(col("us")), "yyyy-MM-dd HH:mm:ss"))
    }
    withTs.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("batch eventsMicros normalizes both physical ts shapes identically") {
    val out = Seq("nanos_long", "micros_ntz").map { shape =>
      Tables.eventsMicros(spark, stage(shape))
        .select(col("event_id"), col("ts_us"),
          unix_micros(col("ts_t")).as("tt_us"), col("event_type"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3))).toSet
    }
    assert(out(0) == out(1), "legacy and native shapes must read equal")
    assert(out(0).map(_._2) == rows.map(_._2).toSet,
      "ts_us must be the exact written epoch-micros")
    assert(out(0).forall { case (_, us, ttUs, _) => us == ttUs },
      "ts_t must carry the same instant as ts_us under UTC")
  }

  test("streaming readEvents normalizes both physical ts shapes identically") {
    val out = Seq("nanos_long", "micros_ntz").map { shape =>
      val name = s"shape_$shape"
      val q = EventStreams.readEvents(spark, s"${stage(shape)}/events.parquet")
        .select(col("event_id"), col("ts_us"),
          unix_micros(col("ts_t")).as("tt_us"))
        .writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        q.processAllAvailable()
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      } finally q.stop()
    }
    assert(out(0) == out(1), "legacy and native shapes must stream equal")
    assert(out(0).map(_._2) == rows.map(_._2).toSet,
      "streamed ts_us must be the exact written epoch-micros")
  }

  test("an UNKNOWN third ts shape fails loudly at both read boundaries") {
    // the r6 drift cost 11 red queries before the cause surfaced; the
    // contract gate must turn the NEXT drift into one self-describing
    // failure at the choke point instead
    val dir = stage("string_iso")
    val batch = intercept[IllegalStateException] {
      Tables.eventsMicros(spark, dir)
    }
    assert(batch.getMessage.contains("ts_us BIGINT epoch-micros") &&
      batch.getMessage.contains("normalizeEventsTs"),
      s"batch error must name the contract and the extension point: " +
        s"${batch.getMessage}")
    val stream = intercept[IllegalStateException] {
      EventStreams.readEvents(spark, s"$dir/events.parquet")
    }
    assert(stream.getMessage.contains("ts_us BIGINT epoch-micros") &&
      stream.getMessage.contains("readEvents"),
      s"stream error must name the contract and the extension point: " +
        s"${stream.getMessage}")
  }

  test("a RENAMED ts column fails loudly with the column inventory") {
    val renamed = rows.toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("event_ts", timestamp_micros(col("us")))
      .drop("us")
    val e = intercept[IllegalArgumentException] {
      Tables.normalizeEventsTs(renamed)
    }
    assert(e.getMessage.contains("no `ts` column") &&
      e.getMessage.contains("event_ts"),
      s"error must name the missing contract column and what IS there: " +
        s"${e.getMessage}")
  }
}
