package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.{Bench, Measure, Sessions, SparkEntry}

/** Plan probe for SparkEntry queries, in Bench's session and with Bench's
  * producer-clear discipline (queries in sorted order, each clearing the
  * artifacts it produces first):
  *
  *   sbt "runMain graft.tools.Probe <plan|executed|scans> <query-prefix…> [sfDir [outDir suffix]]"
  *
  * A prefix selects every query whose name starts with it (`q` selects
  * all); sfDir defaults to the sf0.001 test data. Modes:
  *   - `plan`: `explain("formatted")` before execution — the pushdown,
  *     codegen and exchange audit. With `outDir suffix` each plan goes to
  *     `<outDir>/<query>_<suffix>.txt` instead of stdout.
  *   - `executed`: runs the query through the noop sink and prints the
  *     adaptive plan that ran (AQE stage reuse removes the duplicate
  *     subplans the initial explain shows).
  *   - `scans`: runs the query and counts the FileScans per table in the
  *     executed plan — the redundant-corpus-scan audit.
  */
object Probe {

  val Modes: Seq[String] = Seq("plan", "executed", "scans")

  /** Every query name starting with one of `prefixes`, sorted. */
  def select(prefixes: Seq[String]): Seq[String] = Measure.select(Some(prefixes))

  /** The probe's report on one query. */
  def report(spark: SparkSession, mode: String, name: String, sfDir: String): String = {
    require(Modes.contains(mode), s"mode must be one of ${Modes.mkString("|")}, got $mode")
    Bench.clearProducerMemo(name)
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (mode == "plan") return df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // executes this plan object, so its adaptive plan is the final one; a
    // noop write would run (and finalize) a separate query execution
    val executed = df.queryExecution.executedPlan
    executed.execute().foreach(_ => ())
    if (mode == "executed") return executed.toString
    // the final plan alone: the adaptive plan's string repeats the initial one
    val plan = (executed match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).toString
    val perTable = "file:[^,\\]]*?/([a-z]+)\\.parquet".r.findAllMatchIn(plan)
      .map(_.group(1)).toSeq.groupBy(identity).view.mapValues(_.size).toSeq.sorted
    val fileScans = "FileScan parquet".r.findAllMatchIn(plan).size
    val rddScans = "Scan ExistingRDD".r.findAllMatchIn(plan).size
    s"fileScans=$fileScans rddScans=$rddScans perTable=" +
      perTable.map { case (t, n) => s"$t:$n" }.mkString(",")
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val (prefixes, rest) = args.toSeq.drop(1)
      .span(p => SparkEntry.queries.keys.exists(_.startsWith(p)))
    val out = rest.drop(1)
    if (!Modes.contains(mode) || prefixes.isEmpty ||
        !(out.isEmpty || out.size == 2 && mode == "plan")) {
      System.err.println("usage: Probe <plan|executed|scans> <query-prefix…> " +
        "[sfDir [outDir suffix]]; outDir and suffix are for plan only")
      sys.exit(2)
    }
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.local()
    val failed = select(prefixes).filterNot { name =>
      Measure.attempt("probe", name) {
        val text = report(spark, mode, name, sfDir)
        if (out.isEmpty) println(s"===== $name $mode =====\n$text")
        else {
          val dir = Files.createDirectories(Paths.get(out.head))
          Files.writeString(dir.resolve(s"${name}_${out(1)}.txt"), text)
          System.err.println(s"[probe] wrote $name (${out(1)})")
        }
      }
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
