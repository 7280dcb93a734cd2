package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * Queries are materialized through the noop sink so the full plan
  * (including projections a count() would prune) is executed. A query
  * that throws is listed under "failed" and left out of the total; it
  * is never timed.
  */
object Bench {

  /** Producer-clear discipline shared by Bench and `tools.Adjudicate`:
    * artifact PRODUCERS measure the production computation on every
    * repeat (the artifacts they are declared to produce in
    * [[graft.queries.Artifacts]] are cleared), consumers keep the memo
    * and measure the marginal post-producer cost — the economics the
    * memo exists to provide.
    */
  def clearProducerMemo(name: String): Unit =
    graft.queries.Artifacts.clearProducedBy(name)

  def main(args: Array[String]): Unit = {
    val sfDir = Measure.sfDir
    val spark = Sessions.local()

    // the per-repeat producer clears below only empty the in-JVM memo
    // maps — with an artifact store configured, loadOrBuild would
    // re-serve the persisted parquet and q93/q43/q94 would silently
    // measure a store READ instead of the production computation. An
    // inherited session conf must not be able to corrupt board
    // semantics: store-mode numbers are a separate, labeled protocol
    // (BENCH_STORE.json, REPRO.md).
    require(graft.queries.ArtifactStore.dirOf(spark).isEmpty,
      s"Bench measures production computation; ${graft.queries.ArtifactStore.DirConf} " +
        "must be unset (store-mode numbers are a separate protocol, see REPRO.md)")

    // absorb JVM/codegen/session warmup so per-query numbers reflect
    // steady-state execution rather than first-query startup. The
    // clustering lineage (MinHash → LSH → verify → components) generates
    // by far the most whole-stage-codegen classes; which earlier query
    // happened to compile them decided whether q50-family queries
    // measured 4 s or 40 s run-to-run, so warm that path explicitly.
    val q50 = "q50_neardup_clusters"
    val queries = SparkEntry.queries
    (queries.keys.take(1).toSeq ++ Seq(q50).filter(queries.contains)).foreach { name =>
      Measure.attempt("bench", s"warmup $name")(Measure.noop(queries(name)(spark, sfDir)))
    }

    // optional comma-separated name-prefix filter for targeted local runs
    // (e.g. SPARK_GRAFT_ONLY=q50,q32); absent = full suite
    val only = Measure.only()
    // repeat-min: the build host has documented multi-minute ~10x
    // slowdown windows that slide across the query list (REPRO.md) —
    // two rounds running the official bench ONCE per query measured the
    // host, not the code. The min over 3 runs is jitter-immune unless a
    // window outlasts all three, which the isolated re-run protocol in
    // REPRO.md then catches.
    val repeats = Measure.repeats(3)
    // a repeat that throws ends its query: the query's status is failed
    // and none of its times count
    val outcomes = Measure.select(only).map { name =>
      name -> Measure.repeat("bench", name, repeats)(clearProducerMemo(name))(
        Measure.noop(queries(name)(spark, sfDir)))
    }
    val results = outcomes.collect { case (n, Some(t)) => n -> t }
    val failedJson = outcomes.collect { case (n, None) => "\"" + n + "\"" }
      .mkString("[", ",", "]")
    import Measure.num
    val qs = results.map { case (k, v) => "\"" + k + "\":" + num(v.min) }
      .mkString("{", ",", "}")
    // all repeats, not just the min: REPRO.md's jitter-window
    // adjudication (did a slowdown window cover all repeats of a query?)
    // becomes data-driven from the artifact instead of re-run-driven
    val samples = results.map { case (k, v) =>
      "\"" + k + "\":" + v.map(num(_)).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = results.map(_._2.min).sum
    val line =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"samples":$samples,"failed":$failedJson,"sf":"$sfDir"}"""
    // the r5 artifact arrived truncated MID-JSON (the driver captures a
    // bounded output tail): flush the line immediately, mirror it on
    // stderr, and persist it to a file so the artifact survives any
    // capture window. A SPARK_GRAFT_ONLY partial run writes a SEPARATE
    // file — a targeted re-run must not clobber the full board's
    // artifact (that overwrite once fed a 1-query "board" to the
    // adjudication tool)
    val outFile =
      if (only.isDefined) "BENCH_ONLY_LAST.json" else "BENCH_LAST.json"
    Measure.emit(line, outFile)
    System.err.println(line)
    // COMPACT FINAL LINE (r12, VERDICT r11 item 2): the driver stores a
    // bounded 2000-char TAIL of the run output, so the full line above
    // (~15 KB at 167 queries) has arrived truncated mid-JSON every round
    // since r05 and the driver's `parsed` field has always been null —
    // no per-query PERF data, no scaling block. Emit, LAST, a compact
    // twin that always fits the window whole: the same total (same
    // methodology, same numbers) plus as many of the MOST EXPENSIVE
    // per-query mins (2 decimals) as fit ~1750 chars. Every query's full
    // min + all repeat samples remain in the full line just above, on
    // stderr, and in BENCH_LAST.json — nothing is dropped, this only
    // ADDS a driver-parseable summary.
    val skeleton =
      s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
        s""""n_queries":${outcomes.size},"full":"$outFile","queries":{},""" +
        s""""failed":$failedJson,"sf":"$sfDir"}"""
    var room = 1750 - skeleton.length
    val picked = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    results.sortBy { case (_, v) => -v.min }.foreach { case (k, v) =>
      val entry = "\"" + k + "\":" + num(v.min, 2)
      val cost = entry.length + (if (picked.isEmpty) 0 else 1)
      if (cost <= room) { picked += (k -> entry); room -= cost }
    }
    val compactQs = picked.sortBy(_._1).map(_._2).mkString("{", ",", "}")
    val compactLine =
      s"""{"metric":"total","value":${num(total)},"unit":"sec",""" +
        s""""n_queries":${outcomes.size},"full":"$outFile",""" +
        s""""queries":$compactQs,"failed":$failedJson,"sf":"$sfDir"}"""
    println(compactLine)
    System.out.flush()
    System.err.println(compactLine)
    spark.stop()
  }
}
