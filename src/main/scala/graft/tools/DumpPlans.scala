package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Writes `explain("formatted")` of SparkEntry queries to
  * `<outDir>/<query>_<suffix>.txt` — the plans/r11 evidence files the
  * optimization round commits for every touched query.
  *
  *   sbt "runMain graft.tools.DumpPlans <outDir> <suffix> [q43 q136 ...]"
  *
  * No names = all declared queries. Session settings mirror Bench
  * (local[$SPARK_GRAFT_CPUS], shuffle partitions = cpus, AQE on) so the
  * dumped shapes are the bench's, and the producer-memo discipline is
  * Bench's too (clearProducerMemo per query, sorted order).
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r11")
    val suffix = args.drop(1).headOption.getOrElse("before")
    val only = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.Host.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Verify.silenceIntendedGlobalWindowWarn()
    Files.createDirectories(Paths.get(outDir))
    val selected = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.exists(n.startsWith) }
    selected.foreach { case (name, fn) =>
      graft.Bench.clearProducerMemo(name)
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      System.err.println(s"[plans] wrote $name ($suffix)")
    }
    spark.stop()
  }
}
