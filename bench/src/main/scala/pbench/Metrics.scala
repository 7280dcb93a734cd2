package pbench

import scala.collection.immutable.ListMap

/** Every metric the benchmark reports, with its unit. BENCHMARK.json lists
  * the same names (MetricsSpec keeps the two in step). Every run prints
  * all of them: a per-layer metric of a layer the workload does not
  * exercise reads 0.
  */
object Metrics {

  val EndToEnd: ListMap[String, String] = ListMap(
    "setup_s" -> "s",
    "ops_per_s" -> "1/s",
    "op_p50_ms" -> "ms",
    "op_p90_ms" -> "ms",
    "op_p99_ms" -> "ms",
    "mem_peak_mb" -> "MB")

  val ScalarLayers: ListMap[String, String] = ListMap(
    "core.contar_ns" -> "ns",
    "core.deslocar_ns" -> "ns",
    "core.eh_dia_util_ns" -> "ns",
    "curve.interpolar_ns" -> "ns",
    "bonds.ltn_pu_us" -> "us",
    "bonds.ltn_taxa_us" -> "us",
    "bonds.ntnf_pu_us" -> "us",
    "bonds.ntnf_taxa_us" -> "us",
    "bonds.ntnb_pu_us" -> "us",
    "bonds.ntnb_taxa_us" -> "us",
    "bonds.ntnb_cotacao_us" -> "us",
    "bonds.duration_us" -> "us",
    "bonds.bootstrap_ms" -> "ms")

  /** Spark layers, each a mean per op over the traced passes. */
  val SparkLayers: ListMap[String, String] = ListMap(
    "tables.open_jobs" -> "count",
    "tables.open_ms" -> "ms",
    "queries.build_ms" -> "ms",
    "queries.build_jobs" -> "count",
    "plan.analysis_ms" -> "ms",
    "plan.optimization_ms" -> "ms",
    "plan.planning_ms" -> "ms",
    "sched.jobs" -> "count",
    "sched.stages" -> "count",
    "sched.tasks" -> "count",
    "sched.task_wait_ms" -> "ms",
    "exec.task_run_ms" -> "ms",
    "exec.task_cpu_ms" -> "ms",
    "exec.gc_ms" -> "ms",
    "exec.deser_ms" -> "ms",
    "exec.core_busy_frac" -> "frac",
    "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes",
    "exec.shuffle_fetch_wait_ms" -> "ms",
    "exec.spill_bytes" -> "bytes",
    "exec.input_bytes" -> "bytes",
    "codegen.compile_ms" -> "ms",
    "codegen.classes" -> "count",
    "memo.producer_ms" -> "ms",
    "memo.consumer_ms" -> "ms")

  /** Per-query median wall of the curation queries. */
  val QueryLayers: ListMap[String, String] =
    ListMap.from(Workloads.CurationQueries.map(q => queryMetric(q) -> "ms"))

  def queryMetric(query: String): String = s"query.${query}_ms"

  val PerLayer: ListMap[String, String] =
    ScalarLayers ++ SparkLayers ++ QueryLayers ++ ListMap("trace.overhead_frac" -> "frac")

  /** The end-to-end metrics of one run: the latency percentiles over
    * `latMs`, throughput from the `ops` timed ops and the seconds they
    * took; without a successful op only set-up and memory.
    */
  def endToEnd(setupS: Double, memMb: Double, latMs: Seq[Double], ops: Int,
               opSeconds: Double): Map[String, Double] =
    if (latMs.isEmpty) Map("setup_s" -> setupS, "mem_peak_mb" -> memMb)
    else Map("setup_s" -> setupS, "ops_per_s" -> ops / opSeconds,
      "op_p50_ms" -> Stats.percentile(latMs, 50), "op_p90_ms" -> Stats.percentile(latMs, 90),
      "op_p99_ms" -> Stats.percentile(latMs, 99), "mem_peak_mb" -> memMb)

  /** Every metric of `defs`, 0 where `values` has none. */
  def complete(defs: ListMap[String, String], values: Map[String, Double]): ListMap[String, (Double, String)] =
    defs.map { case (name, unit) => name -> (values.getOrElse(name, 0.0), unit) }
}
