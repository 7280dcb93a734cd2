package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Batch-eleven/twelve semantics on constructed corpora: reconstructive
  * passage dedup must keep exactly one occurrence per distinct passage
  * and rebuild texts in order; DSIR weighting must separate a
  * disjoint-vocab target slice; CMS estimates can only ever over-count;
  * cohorts/funnel/anomaly/transitions must honor event ORDER, not mere
  * presence; JSON props parse schema-on-read with null-safe groups.
  */
class Pipeline11Spec extends SparkSuite {
  import spark.implicits._

  private def stage(rows: Seq[(Long, String, String)]): String = {
    val dir = Files.createTempDirectory("docs_p11").toString
    rows.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("passage rewrite keeps first occurrence and rebuilds in order") {
    // doc 0: two passages (a b c d | e f g h). doc 1 repeats doc 0's
    // first passage then adds its own -> only its own survives. doc 2
    // is entirely doc 0's passages -> survives EMPTY.
    val d = stage(Seq(
      (0L, "a b c d e f g h", "en"),
      (1L, "a b c d x y z w", "en"),
      (2L, "e f g h a b c d", "en")))
    val out = SparkEntry.queries("q95_passage_rewrite")(spark, d)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(0L) == ((2L, 2L, "a b c d e f g h")))
    assert(out(1L) == ((2L, 1L, "x y z w")))
    assert(out(2L) == ((2L, 0L, "")))
  }

  test("passage rewrite globally: one survivor per distinct passage") {
    val d = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$d/documents.parquet")
    val distinctPk = docs.select(explode(
        graft.text.TextOps.passageHashes(col("text"), 4)).as("pk"))
      .distinct().count()
    val agg = SparkEntry.queries("q95_passage_rewrite")(spark, d)
      .agg(sum(col("n_kept")).as("k"), sum(col("n_passages")).as("n"))
      .head()
    assert(agg.getLong(0) == distinctPk, "every distinct passage kept once")
    assert(agg.getLong(0) <= agg.getLong(1))
  }

  test("DSIR separates a disjoint-vocab target slice") {
    // target (en) vocabulary is disjoint from the rest: every en doc
    // must score > 0 and be selected, every zh doc < 0 and not
    val d = stage(Seq(
      (0L, "alpha beta alpha beta", "en"),
      (1L, "beta alpha beta beta", "en"),
      (2L, "gamma delta gamma delta", "zh"),
      (3L, "delta gamma delta delta", "zh")))
    val rows = SparkEntry.queries("q96_dsir_weights")(spark, d)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(2), r.getBoolean(3)))).toMap
    for (id <- Seq(0L, 1L)) {
      assert(rows(id)._1 > 0 && rows(id)._2, s"en doc $id selected")
    }
    for (id <- Seq(2L, 3L)) {
      assert(rows(id)._1 < 0 && !rows(id)._2, s"zh doc $id rejected")
    }
  }

  /** Stages an events.parquet with epoch-NANOS long ts (the production
    * read shape under nanosAsLong), returns the dir.
    */
  private def stageEvents(rows: Seq[(Long, Long, Long, String)]): String = {
    val dir = Files.createTempDirectory("events_p11").toString
    rows.map { case (id, sec, user, typ) => (id, sec * 1000000000L, user, typ) }
      .toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("retention cohorts anchor on first event day") {
    val day = 86400L
    val d = stageEvents(Seq(
      (0L, 0L, 1L, "view"), (1L, 8 * day, 1L, "view"),   // offsets 0, 1
      (2L, 10L, 2L, "click"),                            // offset 0 only
      (3L, day, 3L, "view"), (4L, 20 * day, 3L, "view")))// day-2 cohort
    val out = SparkEntry.queries("q98_retention_cohorts")(spark, d)
      .collect().map(r => (r.getDate(0).toString, r.getInt(1)) -> r.getLong(2))
      .toMap
    assert(out == Map(
      ("1970-01-01", 0) -> 2L, ("1970-01-01", 1) -> 1L,
      ("1970-01-02", 0) -> 1L, ("1970-01-02", 2) -> 1L))
  }

  test("funnel honors event order, not mere presence") {
    val d = stageEvents(Seq(
      // user 1: clean view -> click -> purchase
      (0L, 10L, 1L, "view"), (1L, 20L, 1L, "click"), (2L, 30L, 1L, "purchase"),
      // user 2: purchase BEFORE first view -> stops at stage 1
      (3L, 5L, 2L, "purchase"), (4L, 10L, 2L, "view"),
      // user 3: click before first view -> stops at stage 1
      (5L, 5L, 3L, "click"), (6L, 10L, 3L, "view"), (7L, 20L, 3L, "purchase"),
      // user 4: purchase before the qualifying click -> stops at stage 2
      (8L, 10L, 4L, "view"), (9L, 15L, 4L, "click"), (10L, 12L, 4L, "purchase")))
    val out = SparkEntry.queries("q99_event_funnel")(spark, d)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(out == Map(1 -> 4L, 2 -> 2L, 3 -> 1L))
  }

  test("rate anomaly flags the spike hour, not the trailing noise") {
    // 24 hours alternating 9/11 events, then a 30-event spike, then a
    // quiet hour: only the spike's window may flag (the first two hours
    // have no computable variance; the quiet hour's trail absorbs the
    // spike into a wide stddev)
    val rows = for {
      h <- 0 to 25
      n = if (h == 24) 30 else if (h == 25) 10 else if (h % 2 == 0) 9 else 11
      i <- 0 until n
    } yield ((h * 100L + i), h * 3600L + i * 10L, 1L, "view")
    val d = stageEvents(rows)
    val out = SparkEntry.queries("q100_rate_anomaly")(spark, d).collect()
    val flagged = out.filter(_.getBoolean(4)).map(_.getLong(2)).toSeq
    assert(flagged == Seq(30L), "exactly the spike window flags")
    val spikeZ = out.find(_.getLong(2) == 30L).get.getDouble(3)
    assert(spikeZ > 3.0)
  }

  test("transition matrix orders by (ts, event_id) within user") {
    val d = stageEvents(Seq(
      (1L, 10L, 1L, "view"), (2L, 20L, 1L, "click"),
      (3L, 20L, 1L, "purchase"),   // ts tie with event 2: id breaks it
      (4L, 5L, 2L, "error"), (5L, 15L, 2L, "error")))
    val out = SparkEntry.queries("q101_event_transitions")(spark, d)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(out == Map(
      ("view", "click") -> 1L, ("click", "purchase") -> 1L,
      ("error", "error") -> 1L))
  }

  test("JSON props parse schema-on-read; absent keys group as null") {
    val dir = Files.createTempDirectory("events_json").toString
    Seq((1L, 1000000000L, 1L, "view", 2.0, """{"k": 7}"""),
        (2L, 2000000000L, 1L, "view", 4.0, """{"k": 7}"""),
        (3L, 3000000000L, 2L, "view", 9.0, """{}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q102_json_props_agg")(spark, dir)
      .collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getInt(0))) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(out == Map(Some(7) -> ((2L, 3.0, 6.0)),
      None -> ((1L, 9.0, 9.0))))
  }

  test("weighted sample favors heavy docs; ranks are key-ordered") {
    // 250 docs at weight 2000 vs 250 at weight 20 (100:1): the heavy
    // class must dominate the 50-slot A-Res sample; the draw is
    // md5-deterministic so this is a fixed outcome, not a flaky one
    val rows = (0L until 500L).map(i =>
      (i, "a" * (if (i < 250) 2000 else 20), "en"))
    val d = stage(rows)
    val out = SparkEntry.queries("q105_weighted_sample")(spark, d).collect()
    assert(out.length == 50)
    assert(out.map(_.getInt(0)).toSeq == (1 to 50),
      "ranks must be dense 1..k")
    val keys = out.map(_.getDouble(3)).toSeq
    assert(keys == keys.sorted.reverse, "ranked by descending ES key")
    val heavy = out.count(_.getLong(1) < 250L)
    assert(heavy > 40, s"heavy class won only $heavy of 50 slots")
  }

  test("SCD2 merge emits exactly the effective-dated rows per branch") {
    import org.apache.spark.sql.Row
    val old = Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("doc_id", "fp")
    val nw = Seq((1L, "a"), (2L, "B2"), (4L, "d"))
      .toDF("doc_id", "fp")
    val out = graft.ops.SnapshotDiff.scd2(old, nw, "doc_id", "fp", 1, 2)
      .orderBy(col("doc_id"), col("valid_from")).collect().toSeq
    assert(out == Seq(
      Row(1L, "a", 1, null, true),          // unchanged: stays open
      Row(2L, "b", 1, 2, false),            // changed: v1 closes...
      Row(2L, "B2", 2, null, true),         // ...v2 opens
      Row(3L, "c", 1, 2, false),            // removed: closes
      Row(4L, "d", 2, null, true)))         // added: opens
  }

  test("CMS never under-counts; exact on a collision-free vocabulary") {
    val est = SparkEntry.queries("q97_cms_term_counts")(
      spark, "/root/testdata/sf0.001")
    assert(est.filter(col("overestimate") < 0).isEmpty,
      "count-min is an upper bound by construction")
    // tiny disjoint vocabulary -> no 3-way bucket agreement plausible;
    // the min over rows recovers exact counts
    val d = stage(Seq(
      (0L, "red red green blue", "en"),
      (1L, "blue green red red", "en")))
    val small = SparkEntry.queries("q97_cms_term_counts")(spark, d)
    assert(small.filter(col("overestimate") =!= 0).isEmpty,
      "3-row min recovers exact counts on a 3-word vocabulary")
  }
}
