package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Kept for callers outside this build; the session factory applies it. */
  def silenceIntendedGlobalWindowWarn(): Unit =
    Sessions.silenceIntendedGlobalWindowWarn()

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // optional comma-separated name-prefix filter for targeted local runs
    // (same contract as Bench's SPARK_GRAFT_ONLY); the driver gate sets no
    // filter and dumps everything. A failed query is logged, writes
    // nothing and is named in the last stderr line.
    val queries = SparkEntry.queries
    val names = Measure.select(Measure.only())
    val failed = names.filterNot { name =>
      Measure.attempt("verify", name)(queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    System.err.println(s"[verify] ${failed.size} of ${names.size} queries failed" +
      (if (failed.isEmpty) "" else failed.mkString(": ", " ", "")))
  }
}
