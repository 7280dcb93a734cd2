package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{Bench, SparkEntry, Verify}
import scala.util.control.NonFatal

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
  * producer-clear discipline. Verdicts: isolated_min <= 1.2x record →
  * jitter; <= ratio → borderline (watch next round); above → REGRESSION
  * (the slowdown reproduces in isolation — find the code change).
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

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: Adjudicate <record.json> <close.json> [ratioThreshold]")
    val record = parse(args(0))
    val close = parse(args(1))
    val threshold = if (args.length >= 3) args(2).toDouble else 1.5
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "5").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    val movers = close.toSeq.sortBy(_._1).flatMap { case (name, c) =>
      record.get(name).filter(r => c > threshold * r).map(r => (name, r, c))
    }
    if (movers.isEmpty) {
      System.err.println(s"[adjudicate] no query exceeds ${threshold}x its record — nothing to do")
    }
    System.err.println(s"[adjudicate] ${movers.size} movers: " +
      movers.map(m => f"${m._1} ${m._3 / m._2}%.2fx").mkString(", "))

    val spark = SparkSession.builder()
      .master(s"local[${graft.Host.cpus}]")
      .config("spark.sql.shuffle.partitions",
        graft.Host.cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Verify.silenceIntendedGlobalWindowWarn()
    require(graft.queries.ArtifactStore.dirOf(spark).isEmpty,
      "Adjudicate measures production computation; the artifact store must be unset")

    // Bench-style global warmup (q50's clustering lineage generates the
    // bulk of the shared whole-stage-codegen classes). NOTE the residual
    // bias this cannot remove: an in-board record reflects a JVM warmed
    // by hundreds of prior query executions, so a short query's isolated
    // floor approaches its record only asymptotically (measured: q121
    // monotone 3.24 -> 0.68 s over 12 repeats vs its 0.44 in-board
    // record) — the convergence annotation below flags that state.
    SparkEntry.queries.get("q50_neardup_clusters").foreach { fn =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) =>
        System.err.println(s"[adjudicate] warmup q50_neardup_clusters failed: $e")
      }
    }

    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    val rows = movers.map { case (name, rec, closeMin) =>
      val fn = SparkEntry.queries(name)
      // session state from the PREVIOUS adjudicated query must not
      // subsidize this one: start from empty memos, like a fresh JVM
      graft.queries.Artifacts.clearAll()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) =>
        System.err.println(s"[adjudicate] warmup $name failed: $e")
      }
      // a FAILED repeat must not contribute its (near-zero) elapsed time
      // as a sample — a query BROKEN by a code change would otherwise
      // adjudicate as "jitter", writing exoneration into the evidence
      // file for exactly the failure the tool exists to catch
      val attempts = (1 to repeats).map { r =>
        Bench.clearProducerMemo(name)
        System.err.println(s"[adjudicate] $name ($r/$repeats)")
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[adjudicate] $name failed: ${e.getMessage}")
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        System.gc()
        (dt, ok)
      }
      val samples = attempts.filter(_._2).map(_._1)
      val failures = attempts.count(!_._2)
      if (samples.isEmpty) {
        System.err.println(s"[adjudicate] $name FAILED on all $repeats repeats")
        s""""$name":{"samples":[],"failures":$failures,""" +
          s""""record_prior":${num(rec)},"close_min":${num(closeMin)},""" +
          s""""verdict":"FAILED — the query throws in isolation; this is a code regression, not jitter"}"""
      } else {
        val isoMin = samples.min
        val ratio = isoMin / rec
        // the min landing on the LAST repeat with the first half well
        // above it = the JVM was still warming (JIT/codegen) when
        // sampling stopped; the isolated number is an UPPER bound on
        // the steady state, not evidence of a regression
        val stillWarming = samples.size >= 3 &&
          samples.last == isoMin &&
          samples.take(samples.size / 2).min > 1.15 * isoMin
        val verdict =
          if (failures > 0)
            s"UNSTABLE — $failures of $repeats repeats threw; treat as a regression"
          else if (ratio <= 1.2) "jitter (host-window inflation in the close run)"
          else if (stillWarming)
            "not converged — samples still descending at the last repeat; " +
              "the isolated min is an upper bound (in-board records ride a " +
              "deeply warmed JVM); re-run with more repeats before calling it"
          else if (ratio <= threshold) "borderline — watch next round"
          else "REGRESSION — reproduces in isolation; find the code change"
        System.err.println(f"[adjudicate] $name isolated_min=$isoMin%.3f " +
          f"record=$rec%.3f ratio=$ratio%.2f → $verdict")
        s""""$name":{"samples":${samples.map(num).mkString("[", ",", "]")},""" +
          s""""failures":$failures,""" +
          s""""isolated_min":${num(isoMin)},"record_prior":${num(rec)},""" +
          s""""close_min":${num(closeMin)},"ratio_vs_record":${num(ratio)},""" +
          s""""verdict":"$verdict"}"""
      }
    }

    val line = s"""{"protocol":"tools/Adjudicate: shared JVM, per query full""" +
      s""" memo clear + 1 untimed warm + $repeats timed repeats with Bench""" +
      s""" producer clears, sf $sfDir, threshold ${num(threshold)}x vs""" +
      s""" ${args(0)}","close_artifact":"${args(1)}",""" +
      s""""queries":${rows.mkString("{", ",", "}")}}"""
    println(line)
    System.out.flush()
    // default output is a round-local name, NOT BENCH_ADJUDICATION.json:
    // that file is the standing evidence of a PAST adjudication and a
    // fresh run must not clobber it by accident
    val out = if (args.length >= 4) args(3) else "BENCH_ADJUDICATION_NEW.json"
    try Files.writeString(Paths.get(out), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[adjudicate] could not write $out: $e")
    }
    spark.stop()
  }
}
