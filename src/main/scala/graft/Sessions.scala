package graft

import org.apache.spark.sql.SparkSession

/** The one local-session policy every main, tool and spec shares. */
object Sessions {

  /** `local[cores]` with shuffle partitions = cores, UTC, parquet
    * TIMESTAMP(NANOS) read as longs (events.parquet; see `Tables.events`),
    * no UI, log level WARN. `conf` adds static settings a caller needs
    * (the scale ladders' memory fraction). An already running session is
    * returned with the runtime settings re-applied.
    */
  def local(cores: Int = Host.cpus,
            conf: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    silenceIntendedGlobalWindowWarn()
    spark
  }

  /** q09's dense_rank and Cpm's meeting rank run a global window over a
    * <= 25-row AGGREGATE — the single partition is the intended plan (the
    * reference's own shape), so WindowExec's per-run performance WARN is
    * noise that buries real regressions in the bench/verify logs. Silence
    * that one logger; everything else stays at WARN.
    */
  def silenceIntendedGlobalWindowWarn(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
}
