package pbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Run settings. `cores` comes from the launcher (nproc); the heap is the
  * launcher's -Xmx, read back from the JVM.
  */
final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cores: Int, benchDir: Path, out: Path) {
  /** JVM start, wall-clock ms: set-up time counts from here. */
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  def dataDir: Path = benchDir.resolve("data").resolve(Main.Sf).toAbsolutePath
  def expectedDir: Path = benchDir.resolve("expected")
  def workDir: Path = benchDir.resolve("work").toAbsolutePath
}

/** What one run measured. `record` is everything else the run file keeps. */
final case class RunResult(correct: Boolean, attempted: Long, failed: Long,
                           e2e: Map[String, Double], layers: Map[String, Double],
                           record: ListMap[String, Any])

/** Entry point: `pbench.Main --workload W --seed N --seconds S --trace 0|1
  * --cores C --bench-dir DIR --out FILE`, or `pbench.Main --oracle-sql FILE`
  * to dump the DuckDB oracle SQL of every benchmarked query.
  */
object Main {

  val Sf = "sf0.01"

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opts.get("oracle-sql") match {
      case Some(file) => dumpOracleSql(Paths.get(file))
      case None => run(config(opts))
    }
  }

  private def config(o: Map[String, String]): Config = {
    def need(k: String) = o.getOrElse(k, sys.error(s"missing --$k"))
    val c = Config(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("cores").toInt, Paths.get(need("bench-dir")),
      Paths.get(need("out")))
    require(Workloads.All.contains(c.workload),
      s"unknown workload ${c.workload}; one of ${Workloads.All.mkString(", ")}")
    require(c.seconds > 0 && c.cores > 0)
    c
  }

  /** Writes the run record and the result line. Maps keep their
    * iteration order, so ListMap fields print in the order given.
    */
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def dumpOracleSql(file: Path): Unit = {
    val names = Workloads.CurationQueries
    val sql = graft.SparkEntry.oracleSql
    names.foreach(n => require(sql.contains(n), s"$n has no oracle SQL"))
    Files.writeString(file, json.writeValueAsString(ListMap.from(names.map(n => n -> sql(n)))))
  }

  def host(c: Config): ListMap[String, Any] = ListMap(
    "nproc" -> c.cores,
    "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
    "spark" -> org.apache.spark.SPARK_VERSION,
    "sf" -> Sf,
    "seed" -> c.seed,
    "seconds" -> c.seconds,
    "trace" -> c.trace)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def run(c: Config): Unit = {
    val r = c.workload match {
      case Workloads.ScalarPricing => ScalarRun.run(c)
      case _ => SparkRun.run(c)
    }
    val e2e = Metrics.complete(Metrics.EndToEnd, r.e2e)
    val layers = Metrics.complete(Metrics.PerLayer, r.layers)
    // JSON has no NaN or Infinity: a value without a finite reading is null
    def metricMap(m: ListMap[String, (Double, String)]) = m.map { case (k, (v, u)) =>
      k -> ListMap("value" -> (if (v.isNaN || v.isInfinite) null else v), "unit" -> u)
    }
    val record = ListMap[String, Any](
      "workload" -> c.workload, "host" -> host(c), "correct" -> r.correct,
      "attempted" -> r.attempted, "failed" -> r.failed,
      "failed_frac" -> r.failed.toDouble / math.max(1L, r.attempted),
      "end_to_end" -> metricMap(e2e),
      "per_layer" -> (if (c.trace) metricMap(layers) else ListMap.empty)) ++ r.record
    Files.createDirectories(c.out.toAbsolutePath.getParent)
    Files.writeString(c.out, json.writeValueAsString(record) + "\n")
    val shown = if (c.trace) layers else e2e
    println(s"pbench ${c.workload} " + host(c).map { case (k, v) => s"$k=${v.toString.replace(' ', '_')}" }
      .mkString(" ") + s" attempted=${r.attempted} failed=${r.failed} record=${c.out}")
    println(json.writeValueAsString(ListMap(
      "correct" -> r.correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> metricMap(shown))))
    System.out.flush()
  }
}
