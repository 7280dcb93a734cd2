package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** Streaming ⇄ batch equivalence: the streaming operators must produce the
  * same answers as their batch twins (q40/q41) over the same events data.
  */
class StreamingSpec extends SparkSuite {
  private def stageDir(): String = {
    val dir = Files.createTempDirectory("events_stream")
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  /** Batch read of an events fixture with `ts` normalized to TimestampType
    * micros — handles both physical shapes (epoch-nanos int64 under
    * nanosAsLong, and TIMESTAMP_NTZ) like Tables.eventsMicros does.
    */
  private def batchEvents(path: String) = {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(path)
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  test("tumbling window counts: streaming == batch (q40 twin)") {
    val dir = stageDir()
    val stream = EventStreams.tumblingCounts(
      EventStreams.readEvents(spark, dir))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("tumbling").start()
    try {
      q.processAllAvailable()
      val got = spark.table("tumbling")
        .select(unix_micros(col("win_start")).as("win_start_us"),
          col("event_type"), col("n"), col("sum_value"))
      val want = graft.queries.Pipeline
        .queries("q40_events_tumbling")(spark, "/root/testdata/sf0.001")
      assert(got.count() == want.count())
      assert(got.exceptAll(want).count() == 0)
    } finally q.stop()
  }

  test("stateful sessionization closes sessions on watermark (q41 twin)") {
    import spark.implicits._
    val dir = stageDir()
    // second batch: one far-future event per user pushes the watermark past
    // every real session's gap so flatMapGroupsWithState closes them all
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val base = spark.read.parquet(s"$dir/part-0.parquet")
    val sentinelUs = batchEvents(s"$dir/part-0.parquet")
      .select(unix_micros(max(col("ts")))).head().getLong(0) +
      30L * 24 * 3600 * 1000000L
    // the appended file must carry the same physical ts shape as part-0
    // or the stream's static schema can't read both files
    val sentinelTsCol = base.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => lit(sentinelUs * 1000L)
      case dt => timestamp_micros(lit(sentinelUs)).cast(dt)
    }
    base.select(col("user_id")).distinct()
      .withColumn("event_id", lit(-1L))
      .withColumn("ts", sentinelTsCol)
      .withColumn("event_type", lit("sentinel"))
      .withColumn("value", lit(0.0))
      .withColumn("props", lit(""))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(dir)

    val sessions = EventStreams.sessionize(
      EventStreams.readEvents(spark, dir))
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sessions")
        .filter(col("start_us") < sentinelUs) // drop sentinel sessions
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      val want = graft.queries.Pipeline
        .queries("q41_events_sessionize")(spark, "/root/testdata/sf0.001")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      assert(got.count() == want.count())
      assert(got.exceptAll(want).count() == 0,
        "per-user session counts differ between stream and batch")
    } finally q.stop()
  }

  test("watermarked streaming dedup drops re-delivered events") {
    // stage the fixture TWICE: every event is delivered twice, as a
    // re-delivering event bus would
    val dir = Files.createTempDirectory("events_dup")
    for (part <- Seq("part-0", "part-1")) {
      Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
        dir.resolve(s"$part.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    val deduped = EventStreams.dedupEvents(
      EventStreams.readEvents(spark, dir.toString))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("deduped").start()
    try {
      q.processAllAvailable()
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val distinctIds = spark.read
        .parquet(s"$dir/part-0.parquet")
        .select("event_id").distinct().count()
      assert(spark.table("deduped").count() == distinctIds)
      assert(spark.table("deduped")
        .groupBy("event_id").count().filter(col("count") > 1).isEmpty)
    } finally q.stop()
  }

  test("hopping window counts: streaming == batch (q44 twin)") {
    val dir = stageDir()
    val stream = EventStreams.hoppingCounts(
      EventStreams.readEvents(spark, dir))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("hopping").start()
    try {
      q.processAllAvailable()
      val got = spark.table("hopping")
        .select(unix_micros(col("win_start")).as("win_start_us"),
          col("event_type"), col("n"), col("sum_value"))
      val want = graft.queries.Pipeline2
        .queries("q44_hopping_windows")(spark, "/root/testdata/sf0.001")
      assert(got.count() == want.count())
      assert(got.exceptAll(want).count() == 0)
    } finally q.stop()
  }

  test("stateless curation filter: streaming == batch over documents") {
    val dir = Files.createTempDirectory("docs_stream")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val stream = EventStreams.curationFilter(
      EventStreams.readDocuments(spark, dir.toString))
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("curation").start()
    try {
      q.processAllAvailable()
      val got = spark.table("curation")
      val want = EventStreams.curationFilter(
        spark.read.parquet(s"$dir/part-0.parquet"))
      assert(got.count() > 0, "filter must keep some sf0.001 documents")
      assert(got.count() == want.count())
      assert(got.exceptAll(want).count() == 0)
    } finally q.stop()
  }

  test("quality-gate admission: stream verdicts == batch q110 thresholds") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("docs_qgate")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // the static threshold table is the batch q110 output on the corpus
    val thresholds = SparkEntry
      .queries("q110_quality_gate")(spark, "/root/testdata/sf0.001")
      .select(col("source"), col("thr"))
    val q = EventStreams.qualityGateAdmission(
        EventStreams.readDocuments(spark, dir.toString), thresholds)
      .writeStream.outputMode("append")
      .format("memory").queryName("qgate").start()
    try {
      q.processAllAvailable()
      val got = spark.table("qgate")
      // independent batch recomputation of every verdict
      val want = spark.read.parquet(s"$dir/part-0.parquet")
        .withColumn("qs",
          round(graft.text.TextOps.qualityScore(col("text")), 6))
        .join(thresholds, Seq("source"), "left")
        .select(col("doc_id"), col("source"), col("qs"),
          coalesce(col("qs") >= col("thr"), lit(true)).as("admit"))
      assert(got.count() == want.count())
      assert(got.exceptAll(want).count() == 0 &&
        want.exceptAll(got).count() == 0,
        "stream verdicts must equal the batch rule")
      // both verdict classes must occur or the pin is vacuous; the p90
      // gate rejects ~90% of each source by construction
      val admits = got.filter(col("admit")).count()
      assert(admits > 0 && admits < got.count())
      assert(admits.toDouble / got.count() <= 0.2,
        "a p90 gate must reject the bulk of the corpus it was fit on")
    } finally q.stop()
  }

  test("stream-static decontamination flag agrees with batch q56") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val dir = Files.createTempDirectory("docs_decon")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // static eval gram set: the q56 holdout (every 10th doc)
    val batchDocs = spark.read.parquet(s"$dir/part-0.parquet")
    val evalGrams = batchDocs.filter(col("doc_id") % 10 === 0)
      .select(explode(column(graft.dedup.NGramArray(
        expression(col("text")), 8))).as("gram")).distinct()
    val stream = EventStreams.decontaminationFlag(
      EventStreams.readDocuments(spark, dir.toString), evalGrams)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("decon").start()
    try {
      q.processAllAvailable()
      val got = spark.table("decon")
        .filter(col("doc_id") % 10 =!= 0)
      // batch q56 ground truth on the same files
      val want = SparkEntry.queries("q56_decontaminate")(
        spark, "/root/testdata/sf0.001").select("doc_id", "is_clean")
      assert(got.count() == want.count())
      assert(got.exceptAll(want).count() == 0,
        "stream-static flags must equal the batch decontamination pass")
      // both outcomes must occur, or the pin is vacuous
      assert(got.filter(col("is_clean")).count() > 0)
      assert(got.filter(!col("is_clean")).count() > 0)
    } finally q.stop()
  }

  test("stream-static near-dup admission agrees with batch q76's near layer") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("docs_neardup")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val all = spark.read.parquet(s"$dir/part-0.parquet")
    // static index over the existing corpus (q76's batch split: %5 == 4
    // is the arriving batch, everything else is corpus)
    val index = graft.dedup.DedupOps.bandIndex(
      all.filter(col("doc_id") % 5 =!= 4), "doc_id", "text")
    val stream = EventStreams.nearDupAdmission(
      EventStreams.readDocuments(spark, dir.toString)
        .filter(col("doc_id") % 5 === 4), index)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("neardup_admit").start()
    try {
      q.processAllAvailable()
      val got = spark.table("neardup_admit")
      val want = SparkEntry.queries("q76_incremental_dedup")(
          spark, "/root/testdata/sf0.001")
        .select(col("doc_id"), col("n_near"), col("nearest_id"),
          (col("n_near") > 0).as("is_near_dup"))
      assert(got.count() == want.count())
      assert(got.exceptAll(want).count() == 0 &&
        want.exceptAll(got).count() == 0,
        "per-doc stream verdicts must equal q76's near layer")
      // both outcomes must occur on the fixture, or the pin is vacuous
      assert(got.filter(col("is_near_dup")).count() > 0,
        "fixture must contain at least one near-dup admission hit")
      assert(got.filter(!col("is_near_dup")).count() > 0)
    } finally q.stop()
  }

  test("streaming admission verdict == batch q76 row-for-row") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("docs_verdict")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val all = spark.read.parquet(s"$dir/part-0.parquet")
    val corpus = all.filter(col("doc_id") % 5 =!= 4)
    val fps = corpus
      .select(graft.text.TextOps.fingerprint(col("text")).as("fp")).distinct()
    val index = graft.dedup.DedupOps.bandIndex(corpus, "doc_id", "text")
    val stream = EventStreams.admissionVerdict(
      EventStreams.readDocuments(spark, dir.toString)
        .filter(col("doc_id") % 5 === 4), fps, index)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("verdict").start()
    try {
      q.processAllAvailable()
      val got = spark.table("verdict")
      val want = SparkEntry.queries("q76_incremental_dedup")(
        spark, "/root/testdata/sf0.001")
      assert(got.count() == want.count())
      assert(got.exceptAll(want).count() == 0 &&
        want.exceptAll(got).count() == 0,
        "the whole incremental-dedup verdict must stream unchanged")
      // exercise every verdict class or the pin is vacuous
      assert(got.filter(col("is_new")).count() > 0)
      assert(got.filter(!col("is_new")).count() > 0)
    } finally q.stop()
  }

  test("streaming passage admission: Bloom estimate bounds the exact count") {
    import org.apache.spark.sql.functions._
    import graft.text.TextOps
    val dir = Files.createTempDirectory("docs_passage")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val all = spark.read.parquet(s"$dir/part-0.parquet")
    val corpus = all.filter(col("doc_id") % 5 =!= 4)
    val corpusPks = corpus
      .select(explode(TextOps.passageHashes(col("text"), 4)).as("pk"))
      .distinct()
    val stream = EventStreams.passageAdmission(
      EventStreams.readDocuments(spark, dir.toString)
        .filter(col("doc_id") % 5 === 4), corpusPks)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("passage_admit").start()
    try {
      q.processAllAvailable()
      val got = spark.table("passage_admit")
      // exact per-doc corpus-passage membership (the batch q79 shape,
      // restricted to batch-vs-corpus) — Bloom must never undercount
      val exact = all.filter(col("doc_id") % 5 === 4)
        .select(col("doc_id"),
          explode(TextOps.passageHashes(col("text"), 4)).as("pk"))
        .join(corpusPks.withColumn("_hit", lit(1)), Seq("pk"), "left")
        .groupBy(col("doc_id"))
        .agg(count(col("_hit")).as("n_dup_exact"))
      val cmp = got.join(exact, Seq("doc_id"))
      assert(cmp.count() == got.count())
      assert(cmp.filter(col("n_dup_est") < col("n_dup_exact")).count() == 0,
        "a Bloom false NEGATIVE is impossible — est must bound exact")
      // the ~25 KiB filter is far under-filled on the fixture: exact too
      assert(cmp.filter(col("n_dup_est") =!= col("n_dup_exact")).count() == 0,
        "fixture filter is collision-free, est must equal exact")
      // both verdict classes must occur or the pin is vacuous
      assert(got.filter(col("admit")).count() > 0)
      assert(got.filter(!col("admit")).count() > 0,
        "fixture must contain at least one boilerplate rejection")
    } finally q.stop()
  }

  test("streaming OOD cell admission agrees with the batch quantizer rule") {
    import org.apache.spark.sql.functions._
    import graft.queries.Pipeline15
    val dir = Files.createTempDirectory("vecs_ood")
    Files.copy(Paths.get("/root/testdata/sf0.001/embeddings.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val all = spark.read.parquet(s"$dir/part-0.parquet")
    // quantizer trained on the corpus slice, probed by the batch slice
    val cents = Pipeline15.kmeansCentroidRow(
      all.filter(col("vec_id") % 5 =!= 4)
        .select(col("vec_id"), col("embedding")),
      "vec_id", "embedding")
    val arriving = all.filter(col("vec_id") % 5 === 4)
    val want = Pipeline15.assignCellsWithDist(
        arriving.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", cents)
      .select(col("vec_id"), col("cell").cast("long").as("cell"), col("d2"))
    // threshold at the batch median distance so both verdict classes
    // occur (the parity pin itself holds for any threshold)
    val d2s = want.select(col("d2")).collect().map(_.getDouble(0)).sorted
    val maxDist = d2s(d2s.length / 2)
    val stream = EventStreams.cellAdmission(
      EventStreams.readEmbeddings(spark, dir.toString)
        .filter(col("vec_id") % 5 === 4), cents, maxDist)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("ood_admit").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ood_admit")
      val wantV = want.withColumn("admit", col("d2") <= maxDist)
      assert(got.count() == wantV.count())
      assert(got.exceptAll(wantV).count() == 0 &&
        wantV.exceptAll(got).count() == 0,
        "per-vector stream verdicts must equal the batch quantizer rule")
      assert(got.filter(col("admit")).count() > 0)
      assert(got.filter(!col("admit")).count() > 0,
        "fixture must contain at least one OOD rejection")
    } finally q.stop()
  }

  test("streaming semantic admission agrees with the batch bucket rule") {
    import org.apache.spark.sql.functions._
    import graft.sim.Similarity
    val dir = Files.createTempDirectory("vecs_semantic")
    Files.copy(Paths.get("/root/testdata/sf0.001/embeddings.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val all = spark.read.parquet(s"$dir/part-0.parquet")
    val corpus = all.filter(col("vec_id") % 5 =!= 4)
    val index = Similarity.bucketIndex(corpus)
    val stream = EventStreams.semanticAdmission(
      EventStreams.readEmbeddings(spark, dir.toString)
        .filter(col("vec_id") % 5 === 4), index)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("semantic_admit").start()
    try {
      q.processAllAvailable()
      val got = spark.table("semantic_admit")
      // the batch rule, computed independently as a plain bucket
      // equi-join: an arriving vector is a semantic dup iff some CORPUS
      // vector shares its sketch bucket at rounded cosine >= threshold
      def sk(df: org.apache.spark.sql.DataFrame, id: String, v: String) =
        df.select(col("vec_id").as(id), col("embedding").as(v),
          Similarity.hyperplaneSketch16(col("embedding"), 64)
            .bitwiseAND(lit(255)).as("bucket"))
      val close = sk(all.filter(col("vec_id") % 5 === 4), "vec_id", "_qv")
        .join(sk(corpus, "_cid", "_cv"), Seq("bucket"))
        .filter(round(Similarity.cosine(col("_qv"), col("_cv")), 6) >= 0.2)
        .groupBy(col("vec_id"))
        .agg(count(lit(1)).as("n_close"), min(col("_cid")).as("closest_id"))
      val want = all.filter(col("vec_id") % 5 === 4).select(col("vec_id"))
        .join(close, Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("n_close"), lit(0L)).as("n_close"),
          col("closest_id"), col("n_close").isNull.as("admit"))
      assert(got.count() == want.count())
      assert(got.exceptAll(want).count() == 0 &&
        want.exceptAll(got).count() == 0,
        "per-vector stream verdicts must equal the batch bucket rule")
      // both verdict classes must occur or the pin is vacuous
      assert(got.filter(col("admit")).count() > 0)
      assert(got.filter(!col("admit")).count() > 0,
        "fixture must contain at least one semantic-dup rejection")
    } finally q.stop()
  }

  test("windowed KMV distinct-user estimates: streaming == batch") {
    import graft.dedup.Kmv
    val dir = stageDir()
    val q = EventStreams.windowedDistinctUsers(
        EventStreams.readEvents(spark, dir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("kmv_windows").start()
    try {
      q.processAllAvailable()
      val got = spark.table("kmv_windows")
      val want = batchEvents(s"$dir/part-0.parquet")
        .withColumn("ts_t", col("ts"))
        .groupBy(window(col("ts_t"), "5 minutes"), col("event_type"))
        .agg(round(Kmv.kmvDistinct(Kmv.hash52(col("user_id")), 256), 6)
          .as("est_users"))
        .select(col("window.start").as("ws"), col("event_type"),
          col("est_users"))
      assert(got.count() > 0 && got.count() == want.count())
      assert(got.exceptAll(want).count() == 0 &&
        want.exceptAll(got).count() == 0,
        "per-window sketch estimates must equal the batch aggregation")
    } finally q.stop()
  }

  test("windowed HLL distinct-user estimates: streaming == batch") {
    import graft.dedup.Hll
    val dir = stageDir()
    val q = EventStreams.windowedDistinctUsersHll(
        EventStreams.readEvents(spark, dir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("hll_windows").start()
    try {
      q.processAllAvailable()
      val got = spark.table("hll_windows")
      val want = batchEvents(s"$dir/part-0.parquet")
        .withColumn("ts_t", col("ts"))
        .groupBy(window(col("ts_t"), "5 minutes"), col("event_type"))
        .agg(round(Hll.hllDistinct(Hll.md5Hex(col("user_id"))), 4)
          .as("est_users"))
        .select(col("window.start").as("ws"), col("event_type"),
          col("est_users"))
      assert(got.count() > 0 && got.count() == want.count())
      assert(got.exceptAll(want).count() == 0 &&
        want.exceptAll(got).count() == 0,
        "per-window register estimates must equal the batch aggregation")
    } finally q.stop()
  }

  test("windowed DDSketch value quantiles: streaming == batch") {
    import graft.dedup.Dd
    val dir = stageDir()
    val q = EventStreams.windowedValueQuantiles(
        EventStreams.readEvents(spark, dir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("dd_windows").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dd_windows")
      val cents = floor(col("value") * 100).cast("long")
      val want = batchEvents(s"$dir/part-0.parquet")
        .withColumn("ts_t", col("ts"))
        .groupBy(window(col("ts_t"), "5 minutes"), col("event_type"))
        .agg(Dd.ddQuantile(cents, 0.50).as("p50_sketch"),
          Dd.ddQuantile(cents, 0.90).as("p90_sketch"),
          Dd.ddQuantile(cents, 0.99).as("p99_sketch"))
        .select(col("window.start").as("ws"), col("event_type"),
          col("p50_sketch"), col("p90_sketch"), col("p99_sketch"))
      assert(got.count() > 0 && got.count() == want.count())
      assert(got.exceptAll(want).count() == 0 &&
        want.exceptAll(got).count() == 0,
        "per-window sketch quantiles must equal the batch aggregation")
    } finally q.stop()
  }

  test("windowed bootstrap value CI: streaming == batch, CI brackets mean") {
    val dir = stageDir()
    val q = EventStreams.windowedValueCi(
        EventStreams.readEvents(spark, dir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("ci_windows").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ci_windows")
      val want = EventStreams.windowedValueCi(
        batchEvents(s"$dir/part-0.parquet").withColumn("ts_t", col("ts")))
      assert(got.count() > 0 && got.count() == want.count())
      assert(got.exceptAll(want).count() == 0 &&
        want.exceptAll(got).count() == 0,
        "streamed replica sums must equal the batch bootstrap exactly")
      assert(got.filter(col("ci_lo") > col("mean_value") ||
        col("ci_hi") < col("mean_value")).count() == 0,
        "every window's CI must bracket its point mean")
    } finally q.stop()
  }

  test("one-pass monitoring dashboard == the three standalone monitors") {
    val dir = stageDir()
    val q = EventStreams.monitoringDashboard(
        EventStreams.readEvents(spark, dir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("dashboard").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dashboard")
      val ev = batchEvents(s"$dir/part-0.parquet")
        .withColumn("ts_t", col("ts"))
      // the composition contract: every dashboard column equals the
      // standalone monitor that owns it, joined on (window, type)
      val want = EventStreams.windowedDistinctUsersHll(ev)
        .join(EventStreams.windowedValueQuantiles(ev)
          .withColumnRenamed("p50_sketch", "p50_cents")
          .withColumnRenamed("p90_sketch", "p90_cents")
          .withColumnRenamed("p99_sketch", "p99_cents"),
          Seq("ws", "event_type"))
        .join(EventStreams.windowedValueCi(ev), Seq("ws", "event_type"))
        .select("ws", "event_type", "n_events", "est_users",
          "p50_cents", "p90_cents", "p99_cents",
          "mean_value", "ci_lo", "ci_hi")
      assert(got.count() > 0 && got.count() == want.count())
      assert(got.exceptAll(want).count() == 0 &&
        want.exceptAll(got).count() == 0,
        "the one-pass dashboard must equal the standalone monitors")
    } finally q.stop()
  }

  test("stream-stream attribution join matches the batch bucketed interval join") {
    val dir = stageDir()
    def side(tpe: String) = EventStreams.readEvents(spark, dir)
      .filter(col("event_type") === tpe)
      .select(col("event_id"), col("ts_t").as("ts"), col("user_id"))
    val q = EventStreams.attributionPairs(side("view"), side("purchase"))
      .writeStream.outputMode("append")
      .format("memory").queryName("attribution").start()
    try {
      q.processAllAvailable()
      val got = spark.table("attribution")
        .select(col("purchase_id"), col("view_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch twin: the bucketed equi-join on the same static fixture
      val e = batchEvents(s"$dir/part-0.parquet")
      val v = e.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("ts").as("view_ts"),
          col("user_id"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"), col("user_id"))
      val want = graft.ops.IntervalJoin.bucketed(
          v, p, "user_id", "view_ts", "purchase_ts", 43200L)
        .select(col("purchase_id"), col("view_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(want.nonEmpty, "fixture must contain attributable purchases")
      assert(got == want,
        "streamed pair set must equal the batch bucketed interval join")
    } finally q.stop()
  }

  test("streaming LM scoring equals batch q87 when the model covers the stream") {
    import graft.text.TrigramLm
    val dir = Files.createTempDirectory("docs_lm")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val docs = spark.read.parquet(s"$dir/part-0.parquet")
    val model = TrigramLm.modelFrame(TrigramLm.counts(docs, "doc_id", "text"))
    val stream = EventStreams.lmScoreStream(
      EventStreams.readDocuments(spark, dir.toString), model)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("lm_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("lm_stream")
      val want = TrigramLm.score(docs, "doc_id", "text")
      assert(got.count() == want.count() && got.count() > 0)
      assert(got.exceptAll(want).count() == 0 &&
        want.exceptAll(got).count() == 0,
        "scan-local streamed scores must equal the batch two-pass scores")
    } finally q.stop()
  }

  test("streaming rate monitor closes hours with batch-equal verdicts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("events_rate")
    // the q100 spike fixture (24 alternating hours, a 30-event spike,
    // a quiet hour) plus a 1-event sentinel hour so hour 25 closes
    val rows = (for {
      h <- 0 to 25
      n = if (h == 24) 30 else if (h == 25) 10 else if (h % 2 == 0) 9 else 11
      i <- 0 until n
    } yield (h * 100L + i, h * 3600L + i * 10L, 1L, "view")) :+
      ((9999L, 26 * 3600L, 1L, "view"))
    rows.map { case (id, sec, u, t) => (id, sec * 1000000000L, u, t, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("events.parquet").toString)
    val q = EventStreams.rateAnomalyStream(
        EventStreams.readEvents(spark, dir.resolve("events.parquet").toString))
      .writeStream.outputMode("update")
      .format("memory").queryName("rate_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("rate_stream")
        .select(timestamp_micros(col("ws_us")).as("ws"), col("event_type"),
          col("n"), col("z"), col("is_anomaly"))
      val want = SparkEntry.queries("q100_rate_anomaly")(spark, dir.toString)
      // the stream has closed hours 0..25; batch rows for those hours
      // must match verdict-for-verdict
      val closedHours = got.select(col("ws")).collect().map(_.getTimestamp(0))
      assert(closedHours.length == 26, s"${closedHours.length} closed")
      val wantClosed = want.filter(col("ws").isin(closedHours: _*))
      assert(got.exceptAll(wantClosed).count() == 0 &&
        wantClosed.exceptAll(got).count() == 0,
        "closed-hour verdicts must equal the batch rows")
      // and the spike still flags exactly once
      assert(got.filter(col("is_anomaly")).select(col("n"))
        .collect().map(_.getLong(0)).toSeq == Seq(30L))
    } finally q.stop()
  }

  test("streaming funnel state reproduces the batch stage counts") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("events_funnel")
    // the q99 spec fixture: user 1 converts cleanly; user 2's purchase
    // precedes the first view; user 3's click precedes the first view;
    // user 4's purchase precedes the qualifying click
    Seq((0L, 10L, 1L, "view"), (1L, 20L, 1L, "click"),
        (2L, 30L, 1L, "purchase"),
        (3L, 5L, 2L, "purchase"), (4L, 10L, 2L, "view"),
        (5L, 5L, 3L, "click"), (6L, 10L, 3L, "view"),
        (7L, 20L, 3L, "purchase"),
        (8L, 10L, 4L, "view"), (9L, 15L, 4L, "click"),
        (10L, 12L, 4L, "purchase"))
      .map { case (id, sec, u, t) => (id, sec * 1000000000L, u, t, 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("events.parquet").toString)
    val q = EventStreams.funnelStream(
        EventStreams.readEvents(spark, dir.resolve("events.parquet").toString))
      .writeStream.outputMode("update")
      .format("memory").queryName("funnel_stream").start()
    try {
      q.processAllAvailable()
      // latest emitted stage per user vs the batch funnel on the same dir
      val reached = spark.table("funnel_stream")
        .groupBy(col("user_id")).agg(max(col("stage")).as("stage"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val want = SparkEntry.queries("q99_event_funnel")(spark, dir.toString)
        .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
      val streamed = (1 to 3).map(s =>
        s -> reached.values.count(_ >= s).toLong).toMap
      assert(streamed == want,
        "constant-state funnel must reach the batch stage counts")
      assert(reached == Map(1L -> 3, 2L -> 1, 3L -> 1, 4L -> 2),
        s"per-user stages: $reached")
    } finally q.stop()
  }

  test("streaming DSIR scores equal the batch query") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("docs_dsir")
    // staged as documents.parquet so the SAME dir serves the streaming
    // source (reads every parquet in the dir) and the batch query
    // (reads $dir/documents.parquet)
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val batchDocs = spark.read.parquet(s"$dir/documents.parquet")
    val model = graft.text.Dsir.modelFrame(batchDocs, "text",
      col("lang") === "en")
    val q = EventStreams.dsirScoreStream(
        EventStreams.readDocuments(spark, dir.toString), model)
      .writeStream.outputMode("append")
      .format("memory").queryName("dsir_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("dsir_stream")
      val want = SparkEntry.queries("q96_dsir_weights")(
        spark, dir.toString.stripSuffix("/"))
      // same expression, same model -> identical scores and verdicts
      assert(got.count() == want.count() && got.count() > 0)
      assert(got.exceptAll(want).count() == 0 &&
        want.exceptAll(got).count() == 0,
        "door scores must equal the batch selection scores")
    } finally q.stop()
  }

  test("streaming CMS counters equal the batch sketch") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("docs_cms")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val q = EventStreams.cmsSketchStream(
        EventStreams.readDocuments(spark, dir.toString))
      .writeStream.outputMode("complete")
      .format("memory").queryName("cms_stream").start()
    try {
      q.processAllAvailable()
      val got = spark.table("cms_stream")
      val want = graft.text.Cms.sketch(
        spark.read.parquet(s"$dir/part-0.parquet")
          .select(explode(split(
            graft.text.TextOps.normalize(col("text")), " ")).as("w")), "w")
      assert(got.count() > 0 && got.count() == want.count())
      assert(got.exceptAll(want).count() == 0 &&
        want.exceptAll(got).count() == 0,
        "the streamed aggregation state must BE the batch sketch")
    } finally q.stop()
  }

  test("end-to-end admission pipeline == batch q76/q110/q87 composition") {
    import org.apache.spark.sql.functions._
    import graft.dedup.DedupOps
    import graft.text.{TextOps, TrigramLm}
    val dir = Files.createTempDirectory("docs_pipeline")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val batchDocs = spark.read.parquet(s"$dir/part-0.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    // static artifacts, as the nightly recompute would hand them over:
    // the corpus is the even half, the stream re-offers every doc
    val corpus = batchDocs.filter(col("doc_id") % 2 === 0)
    val corpusFps =
      corpus.select(TextOps.fingerprint(col("text")).as("fp")).distinct()
    val corpusIndex = DedupOps.bandIndex(corpus, "doc_id", "text")
      .localCheckpoint()
    val thresholds = SparkEntry
      .queries("q110_quality_gate")(spark, "/root/testdata/sf0.001")
      .select(col("source"), col("thr")).localCheckpoint()
    val lmModel = TrigramLm.modelFrame(
      TrigramLm.counts(corpus, "doc_id", "text")).localCheckpoint()
    val cm = TrigramLm.collectModelFrame(lmModel)

    // batch composition of the three queries' rules, same precedence
    val near = DedupOps.probeBandIndex(batchDocs, corpusIndex,
        "doc_id", "text", 0.5)
      .select(col("doc_id"), col("n_near"), col("nearest_id"),
        col("is_near_dup"))
    val lm = TrigramLm.scoreInRow(batchDocs, cm, "doc_id", "text")
      .select(col("doc_id"), col("lm_score").as("_lm_raw"))
    val base = batchDocs
      .withColumn("fp", TextOps.fingerprint(col("text")))
      .join(corpusFps.withColumn("_dup", lit(1)), Seq("fp"), "left")
      .withColumn("is_exact_dup", col("_dup").isNotNull)
      .join(near, Seq("doc_id"))
      .join(lm, Seq("doc_id"))
      .join(thresholds, Seq("source"), "left")
      .withColumn("_qs_raw",
        round(TextOps.qualityScore(col("text")), 6))
      .localCheckpoint()
    // an LM floor that splits the quality-survivors, so every stage of
    // the cascade drops someone and no assertion is vacuous
    val lexOk = !col("is_exact_dup") && !col("is_near_dup")
    val qOk = coalesce(col("_qs_raw") >= col("thr"), lit(true))
    val survivorScores = base.filter(lexOk && qOk)
      .filter(col("_lm_raw").isNotNull)
      .select(col("_lm_raw")).collect().map(_.getDouble(0)).sorted
    assert(survivorScores.length >= 4, "fixture must reach the LM gate")
    val lmMin = survivorScores(survivorScores.length / 2)
    val want = base
      .withColumn("qs", when(lexOk, col("_qs_raw")))
      .withColumn("lm_score", when(lexOk && qOk, col("_lm_raw")))
      .withColumn("stage",
        when(col("is_exact_dup"), "exact")
          .when(col("is_near_dup"), "near")
          .when(!qOk, "quality")
          .when(!coalesce(col("lm_score") >= lit(lmMin), lit(true)), "lm"))
      .select(col("doc_id"), col("source"), col("is_exact_dup"),
        col("n_near"), col("nearest_id"), col("qs"), col("lm_score"),
        col("stage"), col("stage").isNull.as("admit"))

    val q = EventStreams.admissionPipeline(
        EventStreams.readDocuments(spark, dir.toString),
        corpusFps, corpusIndex, thresholds, lmModel, lmMin)
      .writeStream.outputMode("append")
      .format("memory").queryName("admission_pipeline").start()
    try {
      q.processAllAvailable()
      val got = spark.table("admission_pipeline")
      assert(got.count() == batchDocs.count(),
        "every offered doc must get exactly one verdict row")
      assert(got.exceptAll(want).count() == 0 &&
        want.exceptAll(got).count() == 0,
        "stream verdicts+scores must equal the batch composition")
      // per-stage drop counts: every gate of the cascade must fire, and
      // the admitted remainder must be non-empty
      val byStage = got.groupBy(col("stage")).count().collect()
        .map(r => Option(r.getString(0)).getOrElse("admitted") -> r.getLong(1))
        .toMap
      for (s <- Seq("exact", "near", "quality", "lm", "admitted"))
        assert(byStage.getOrElse(s, 0L) > 0, s"stage $s must be exercised")
      // short-circuit contract: scorers never ran for earlier drops
      assert(got.filter(col("stage").isin("exact", "near") &&
        col("qs").isNotNull).count() == 0,
        "quality must not be scored for lexical drops")
      assert(got.filter((col("stage") =!= "lm" || col("stage").isNull) &&
        col("stage").isNotNull && col("lm_score").isNotNull).count() == 0,
        "LM must only be scored at the LM gate or beyond")
    } finally q.stop()
  }

  test("composed admission + DDSketch monitor: one readStream, " +
    "per-stage drop counts and score quantiles == batch") {
    import org.apache.spark.sql.functions._
    import graft.dedup.DedupOps
    import graft.text.{TextOps, TrigramLm}
    val dir = Files.createTempDirectory("docs_monitor")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val batchDocs = spark.read.parquet(s"$dir/part-0.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val corpus = batchDocs.filter(col("doc_id") % 2 === 0)
    val corpusFps =
      corpus.select(TextOps.fingerprint(col("text")).as("fp")).distinct()
    val corpusIndex = DedupOps.bandIndex(corpus, "doc_id", "text")
      .localCheckpoint()
    val thresholds = SparkEntry
      .queries("q110_quality_gate")(spark, "/root/testdata/sf0.001")
      .select(col("source"), col("thr")).localCheckpoint()
    val lmModel = TrigramLm.modelFrame(
      TrigramLm.counts(corpus, "doc_id", "text")).localCheckpoint()
    // an LM floor splitting the quality survivors, so the lm stage fires
    val probe = EventStreams.admissionPipeline(batchDocs, corpusFps,
        corpusIndex, thresholds, lmModel, lmMinScore = -1e9)
      .filter(col("lm_score").isNotNull)
      .select(col("lm_score")).collect().map(_.getDouble(0)).sorted
    assert(probe.length >= 4, "fixture must reach the LM gate")
    val lmMin = probe(probe.length / 2)
    // deterministic event-time: doc_id spreads the stream over two
    // 5-minute windows, so the monitor emits per-window rows
    val ts = timestamp_seconds(lit(1700000000L) + (col("doc_id") % 600))
    val q = EventStreams.admissionMonitor(
        EventStreams.readDocuments(spark, dir.toString),
        corpusFps, corpusIndex, thresholds, lmModel, lmMin, ts)
      .writeStream.outputMode("complete")
      .format("memory").queryName("admission_monitor").start()
    try {
      q.processAllAvailable()
      val got = spark.table("admission_monitor")
      val want = EventStreams.admissionMonitor(batchDocs, corpusFps,
        corpusIndex, thresholds, lmModel, lmMin, ts)
      assert(got.count() > 0 && got.count() == want.count())
      assert(got.exceptAll(want).count() == 0 &&
        want.exceptAll(got).count() == 0,
        "streamed monitor rows must equal the batch composition")
      // per-stage drop counts: every cascade gate fires somewhere, the
      // doc total is conserved, and two windows are populated
      val byStage = got.groupBy(col("stage"))
        .agg(sum(col("n_docs")).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      for (s <- Seq("exact", "near", "quality", "lm", "admitted"))
        assert(byStage.getOrElse(s, 0L) > 0, s"stage $s must be exercised")
      assert(byStage.values.sum == batchDocs.count(),
        "every offered doc lands in exactly one (window, stage) count")
      assert(got.select(col("ws")).distinct().count() >= 2,
        "the monitor must emit per-window rows")
      // scored stages carry sketch quantiles; short-circuit stages don't
      assert(got.filter(col("stage") === "admitted" &&
        col("qs_p50_micro").isNull).count() == 0,
        "admitted docs are quality-scored, so quantiles must exist")
      assert(got.filter(col("stage") === "exact" &&
        col("qs_p50_micro").isNotNull).count() == 0,
        "exact drops never reach the quality scorer")
      // the composed dashboard must carry the score mean WITH its
      // bootstrap interval (directive: a value monitor without its
      // interval invites over-reading), and the interval must bracket
      // the mean wherever one exists
      assert(got.filter(col("stage") === "admitted" &&
        (col("qs_mean_micro").isNull || col("qs_ci_lo_micro").isNull ||
          col("qs_ci_hi_micro").isNull)).count() == 0,
        "scored stages must emit mean + ci_lo + ci_hi")
      assert(got.filter(col("qs_ci_lo_micro") > col("qs_mean_micro") ||
        col("qs_ci_hi_micro") < col("qs_mean_micro")).count() == 0,
        "every emitted CI must bracket its point mean")
      assert(got.filter(col("stage") === "exact" &&
        col("qs_mean_micro").isNotNull).count() == 0,
        "unscored stages report null mean/CI, not a fabricated zero")
    } finally q.stop()
  }

  test("stream-static admission filter drops known fingerprints at the door") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("docs_admit")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val batchDocs = spark.read.parquet(s"$dir/part-0.parquet")
    // the "corpus already holds every even doc" scenario
    val corpusFps = batchDocs.filter(col("doc_id") % 2 === 0)
      .select(graft.text.TextOps.fingerprint(col("text")).as("fp")).distinct()
    val stream = EventStreams.admissionFilter(
      EventStreams.readDocuments(spark, dir.toString), corpusFps)
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("admit").start()
    try {
      q.processAllAvailable()
      val got = spark.table("admit")
      val want = EventStreams.admissionFilter(batchDocs, corpusFps)
      assert(got.count() > 0 && got.count() < batchDocs.count(),
        "some docs must be admitted and some dropped")
      assert(got.count() == want.count())
      assert(got.exceptAll(want).count() == 0,
        "stream-static admission must equal the batch anti join")
    } finally q.stop()
  }
}
