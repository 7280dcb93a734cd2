package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Bench, Measure, SparkEntry}
import graft.Measure.num

/** Automates REPRO.md's adjudication recipe (judge directive r9-#1,
  * "make the bench artifact self-evidencing"): diff a close-run board
  * against the standing record, isolated-re-run every query whose close
  * min exceeds the threshold, and write the machine-readable verdict
  * file (`BENCH_ADJUDICATION.json`) the judge can diff — so a hot close
  * window costs the next round one command instead of an afternoon.
  *
  *   runMain graft.tools.Adjudicate <record.json> <close.json> [ratio] [out.json]
  *
  * Both inputs are Bench artifacts (`{"queries":{"qNN_name":sec,...}}`).
  * Per flagged query: full memo clear, one untimed warm run (the
  * codegen/JIT absorption Bench's warmup provides), then
  * SPARK_GRAFT_REPEATS (default 5) timed repeats under Bench's
  * producer-clear and failure rules. Verdicts: a repeat threw → FAILED;
  * isolated_min <= 1.2x record → jitter; <= ratio → borderline (watch
  * next round); above → REGRESSION (the slowdown reproduces in
  * isolation — find the code change).
  */
object Adjudicate {

  // \s* after the colon: hand-pooled boards (python json.dumps) write
  // `"q01": 0.425` while Bench writes `"q01":0.425` — the r10-close
  // adjudication silently found ZERO movers because the record file's
  // spaced colons matched nothing and every record lookup missed
  private val QueryTime = """"(q[0-9]+[a-z0-9_]*)"\s*:\s*([0-9.]+)""".r

  /** Per-query min map of a Bench artifact: the FIRST occurrence of each
    * name wins, which is the `"queries"` object (the `"samples"` object
    * repeats the names with array values the regex does not match).
    */
  def parse(path: String): Map[String, Double] = {
    val text = Files.readString(Paths.get(path))
    QueryTime.findAllMatchIn(text).foldLeft(Map.empty[String, Double]) {
      (m, g) =>
        if (m.contains(g.group(1))) m
        else m + (g.group(1) -> g.group(2).toDouble)
    }
  }

  /** The verdict on one mover's isolated samples (None: a repeat threw). */
  def verdict(samples: Option[Seq[Double]], record: Double, threshold: Double): String =
    samples.fold("FAILED — the query throws in isolation; this is a code regression, not jitter") { s =>
      val ratio = s.min / record
      // the min landing on the LAST repeat with the first half well above
      // it = the JVM was still warming (JIT/codegen) when sampling
      // stopped; the isolated number is an UPPER bound on the steady
      // state, not evidence of a regression
      val stillWarming = s.size >= 3 && s.last == s.min &&
        s.take(s.size / 2).min > 1.15 * s.min
      if (ratio <= 1.2) "jitter (host-window inflation in the close run)"
      else if (stillWarming)
        "not converged — samples still descending at the last repeat; " +
          "the isolated min is an upper bound (in-board records ride a " +
          "deeply warmed JVM); re-run with more repeats before calling it"
      else if (ratio <= threshold) "borderline — watch next round"
      else "REGRESSION — reproduces in isolation; find the code change"
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Adjudicate <record.json> <close.json> [ratioThreshold]")
    val record = parse(args(0))
    val close = parse(args(1))
    val threshold = if (args.length >= 3) args(2).toDouble else 1.5
    val repeats = Measure.repeats(5)
    val sfDir = Measure.sfDir

    val movers = close.toSeq.sortBy(_._1).flatMap { case (name, c) =>
      record.get(name).filter(r => c > threshold * r).map(r => (name, r, c))
    }
    if (movers.isEmpty) {
      System.err.println(s"[adjudicate] no query exceeds ${threshold}x its record — nothing to do")
    }
    System.err.println(s"[adjudicate] ${movers.size} movers: " +
      movers.map(m => f"${m._1} ${m._3 / m._2}%.2fx").mkString(", "))

    val spark = graft.Sessions.local()
    require(graft.queries.ArtifactStore.dirOf(spark).isEmpty,
      "Adjudicate measures production computation; the artifact store must be unset")
    val queries = SparkEntry.queries
    def run(name: String): Unit = Measure.noop(queries(name)(spark, sfDir))

    // Bench-style global warmup (q50's clustering lineage generates the
    // bulk of the shared whole-stage-codegen classes). NOTE the residual
    // bias this cannot remove: an in-board record reflects a JVM warmed
    // by hundreds of prior query executions, so a short query's isolated
    // floor approaches its record only asymptotically (measured: q121
    // monotone 3.24 -> 0.68 s over 12 repeats vs its 0.44 in-board
    // record) — the convergence annotation below flags that state.
    val q50 = "q50_neardup_clusters"
    if (queries.contains(q50)) Measure.attempt("adjudicate", s"warmup $q50")(run(q50))

    val rows = movers.map { case (name, rec, closeMin) =>
      // session state from the PREVIOUS adjudicated query must not
      // subsidize this one: start from empty memos, like a fresh JVM
      graft.queries.Artifacts.clearAll()
      Measure.attempt("adjudicate", s"warmup $name")(run(name))
      // Bench's failure rule: a repeat that throws fails the query and no
      // sample counts — a query BROKEN by a code change must never
      // adjudicate as "jitter" on its near-zero elapsed time
      val samples = Measure.repeat("adjudicate", name, repeats)(
        Bench.clearProducerMemo(name))(run(name))
      val v = verdict(samples, rec, threshold)
      System.err.println(s"[adjudicate] $name → $v")
      val timed = samples.fold("")(s =>
        s""""isolated_min":${num(s.min)},"ratio_vs_record":${num(s.min / rec)},""")
      s""""$name":{"samples":${samples.getOrElse(Nil).map(num(_)).mkString("[", ",", "]")},""" +
        s"""$timed"record_prior":${num(rec)},"close_min":${num(closeMin)},"verdict":"$v"}"""
    }

    val line = s"""{"protocol":"tools/Adjudicate: shared JVM, per query full""" +
      s""" memo clear + 1 untimed warm + $repeats timed repeats with Bench""" +
      s""" producer clears, sf $sfDir, threshold ${num(threshold)}x vs""" +
      s""" ${args(0)}","close_artifact":"${args(1)}",""" +
      s""""queries":${rows.mkString("{", ",", "}")}}"""
    // default output is a round-local name, NOT BENCH_ADJUDICATION.json:
    // that file is the standing evidence of a PAST adjudication and a
    // fresh run must not clobber it by accident
    val out = if (args.length >= 4) args(3) else "BENCH_ADJUDICATION_NEW.json"
    Measure.emit(line, out)
    spark.stop()
  }
}
