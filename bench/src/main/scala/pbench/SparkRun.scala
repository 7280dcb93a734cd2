package pbench

import java.nio.file.{Files, Path}
import java.util.zip.GZIPInputStream
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.core.json.JsonReadFeature
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** curation_lineage: a closed loop of query executions,
  * one at a time, through the noop sink.
  *
  * Set-up builds the session and runs a verification pass: every query
  * once, in the seed's order, its collected rows compared with the DuckDB
  * oracle's frozen result. One untimed warm-up pass follows, then timed
  * passes, each in its own seeded order, until at least `seconds` have
  * passed and at least [[MinPasses]] passes have run. Latency counts the time inside ops only: the memo
  * clear and full GC between ops are not timed. The latency percentiles
  * are over the queries, each at the median of its timed executions:
  * repeated executions of one query measure one op, and pooled they put
  * the 90th percentile on the second largest of the four samples of q76
  * and q50, where one slow execution moved it. A query that failed
  * verification still runs in every pass, counts as failed and is never
  * timed.
  */
object SparkRun {

  private final case class Sample(query: String, pass: Int, ms: Double)

  /** Every query runs at least twice per run: no percentile rests on one
    * execution of a query, and a slow host cannot cut a run to one pass.
    */
  val MinPasses = 2

  def session(c: Config): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName("pbench")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", c.workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", c.workDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.Verify.silenceIntendedGlobalWindowWarn()
    s
  }

  /** The frozen oracle result of one query (written by oracle.py). */
  def expected(dir: Path, query: String): Oracle.Table = {
    val mapper = new ObjectMapper()
    mapper.enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS.mappedFeature())
    val in = new GZIPInputStream(Files.newInputStream(dir.resolve(s"$query.json.gz")))
    val root = try mapper.readTree(in) finally in.close()
    val cols = Vector.newBuilder[String]
    root.get("columns").elements().forEachRemaining(n => cols += n.textValue)
    val rows = Vector.newBuilder[Vector[Any]]
    root.get("rows").elements().forEachRemaining(r => rows += Oracle.fromJson(r).asInstanceOf[Vector[Any]])
    val order = cols.result().zipWithIndex.sortBy(_._1)
    Oracle.Table(order.map(_._1), rows.result().map(r => order.map { case (_, i) => r(i) }.toVector))
  }

  private final case class Verdict(outcome: Oracle.Outcome, runMs: Double, compareMs: Double)

  /** Runs one query, collects its rows and compares them with the oracle. */
  private def verify(c: Config, spark: SparkSession, n: String,
                     fn: (SparkSession, String) => DataFrame, dir: String): Verdict = {
    graft.Bench.clearProducerMemo(n)
    val t0 = System.nanoTime()
    var t1 = t0
    val outcome = try {
      val df = fn(spark, dir)
      val rows = df.collect().toSeq
      t1 = System.nanoTime()
      Oracle.compare(Oracle.fromSpark(df.columns.toSeq, rows), expected(c.expectedDir, n))
    } catch { case NonFatal(e) => Oracle.Outcome(ok = false, s"ERROR $e") }
    Verdict(outcome, (t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6)
  }

  /** Untimed work before each op: the producer's memo clear (as
    * `graft.Bench` does) and a full GC, so that no op pays for garbage an
    * earlier op left and broadcast and shuffle state is released, as
    * `graft.Bench` does after each query.
    */
  private def between(n: String): Unit = {
    graft.Bench.clearProducerMemo(n)
    System.gc()
  }

  /** One op: the query into the noop sink. False if it threw. */
  private def execute(spark: SparkSession, n: String,
                      fn: (SparkSession, String) => DataFrame, dir: String): Boolean =
    try { fn(spark, dir).write.format("noop").mode("overwrite").save(); true }
    catch { case NonFatal(e) => System.err.println(s"[pbench] $n failed: $e"); false }

  def run(c: Config): RunResult = {
    val spark = session(c)
    try measure(c, spark) finally spark.stop()
  }

  private def measure(c: Config, spark: SparkSession): RunResult = {
    require(graft.queries.ArtifactStore.dirOf(spark).isEmpty,
      s"${graft.queries.ArtifactStore.DirConf} must be unset: the benchmark measures production computation")
    val sessionS = (System.currentTimeMillis() - c.jvmStartMs) / 1000.0
    val names = Workloads.CurationQueries
    val fns = names.map(n => n -> graft.SparkEntry.queries.getOrElse(n, sys.error(s"no query $n"))).toMap
    val dir = c.dataDir.toString
    val orders = Order.passes(names, Workloads.CurationAfter, c.seed)

    // verification pass, in the seed's order, with producer clears
    val verifyOrder = orders.next()
    val verdicts = verifyOrder.map { n =>
      val v = verify(c, spark, n, fns(n), dir)
      if (!v.outcome.ok) System.err.println(s"[pbench] $n failed verification: ${v.outcome.message}")
      System.gc()
      n -> v
    }.toMap

    // warm-up pass, untimed: without it the first timed pass ran 5-30%
    // slower than the second
    val warmOrder = orders.next()
    warmOrder.foreach { n => between(n); execute(spark, n, fns(n), dir) }

    val setupS = (System.currentTimeMillis() - c.jvmStartMs) / 1000.0
    val samples = ArrayBuffer[Sample]()
    val passOrders = ArrayBuffer[Seq[String]]()
    var attempted, failed = 0L
    var opNs = 0L
    val end = System.nanoTime() + c.seconds * 1000000000L
    while (passOrders.length < MinPasses || System.nanoTime() < end) {
      val order = orders.next()
      order.foreach { n =>
        between(n)
        val s = System.nanoTime()
        val ok = execute(spark, n, fns(n), dir)
        val ns = System.nanoTime() - s
        attempted += 1
        if (ok && verdicts(n).outcome.ok) { samples += Sample(n, passOrders.length, ns / 1e6); opNs += ns }
        else failed += 1
      }
      passOrders += order
    }
    val wall = opNs / 1e9
    val memMb = Main.peakRssMb()
    def medianOf(qs: Set[String]) = {
      val xs = samples.filter(s => qs(s.query)).map(_.ms).toSeq
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val perQuery = names.map(n => n -> medianOf(Set(n)))
    // the latency of a query is the median of its timed executions
    val lat = perQuery.collect { case (n, ms) if samples.exists(_.query == n) => ms }
    val e2e = Metrics.endToEnd(setupS, memMb, lat, samples.length, wall)

    var layers = Map.empty[String, Double]
    var traceRecord = ListMap.empty[String, Any]
    if (c.trace) {
      // the last timed pass again, traced; its untraced op time is the
      // base, from the pass nearest in time and warmth
      val last = passOrders.length - 1
      val (traced, twall) = tracedPasses(spark, fns, dir, Seq(passOrders(last)))
      val baseS = samples.filter(_.pass == last).map(_.ms).sum / 1e3
      val ops = traced.map(_._2)
      def mean(f: OpLayers => Double) = ops.map(f).sum / ops.length
      val busy = ops.map(_.runMs.toDouble).sum / (ops.map(o => o.buildMs + o.actionMs).sum * c.cores)
      layers = Map(
        "tables.open_jobs" -> mean(_.openJobs.toDouble),
        "tables.open_ms" -> mean(_.openMs.toDouble),
        "queries.build_ms" -> mean(_.buildMs),
        "queries.build_jobs" -> mean(_.buildJobs.toDouble),
        "plan.analysis_ms" -> mean(_.analysisMs.toDouble),
        "plan.optimization_ms" -> mean(_.optimizationMs.toDouble),
        "plan.planning_ms" -> mean(_.planningMs.toDouble),
        "sched.jobs" -> mean(_.jobs.toDouble),
        "sched.stages" -> mean(_.stages.toDouble),
        "sched.tasks" -> mean(_.tasks.toDouble),
        "sched.task_wait_ms" -> mean(_.taskWaitMs.toDouble),
        "exec.task_run_ms" -> mean(_.runMs.toDouble),
        "exec.task_cpu_ms" -> mean(_.cpuNs / 1e6),
        "exec.gc_ms" -> mean(_.gcMs.toDouble),
        "exec.deser_ms" -> mean(_.deserMs.toDouble),
        "exec.core_busy_frac" -> busy,
        "exec.shuffle_write_bytes" -> mean(_.shuffleWrite.toDouble),
        "exec.shuffle_read_bytes" -> mean(_.shuffleRead.toDouble),
        "exec.shuffle_fetch_wait_ms" -> mean(_.fetchWaitMs.toDouble),
        "exec.spill_bytes" -> mean(_.spill.toDouble),
        "exec.input_bytes" -> mean(_.input.toDouble),
        "codegen.compile_ms" -> mean(_.codegenNs / 1e6),
        "codegen.classes" -> mean(_.codegenClasses.toDouble),
        "memo.producer_ms" -> medianOf(Workloads.Producers),
        "memo.consumer_ms" -> medianOf(Workloads.Consumers),
        "trace.overhead_frac" -> (twall / baseS - 1.0)) ++
        perQuery.map { case (n, ms) => Metrics.queryMetric(n) -> ms }.filter(m => Metrics.QueryLayers.contains(m._1))
      traceRecord = ListMap("traced_wall_s" -> twall, "traced_ops" -> ListMap.from(
        traced.zipWithIndex.map { case ((n, l), i) => s"$i:$n" -> l.toMap }))
    }

    val verifyRecord = ListMap.from(verifyOrder.map { n =>
      val v = verdicts(n)
      n -> ListMap("ok" -> v.outcome.ok, "message" -> v.outcome.message, "run_ms" -> v.runMs, "compare_ms" -> v.compareMs)
    })
    val correct = verdicts.values.forall(_.outcome.ok) && failed == 0
    RunResult(correct, attempted, failed, e2e, layers, ListMap(
      "setup" -> ListMap("setup_s" -> setupS, "session_s" -> sessionS, "verification" -> verifyRecord),
      "verify_order" -> verifyOrder,
      "warmup_order" -> warmOrder,
      "pass_orders" -> passOrders.toSeq,
      "latency_counts" -> (Stats.counts(lat.length) + ("executions" -> samples.length)),
      "timed_wall_s" -> wall,
      "per_query_median_ms" -> ListMap.from(perQuery),
      "samples" -> samples.map(s => ListMap("query" -> s.query, "pass" -> s.pass, "ms" -> s.ms))) ++
      traceRecord)
  }

  /** Runs the given pass orders with the tracer attached. Returns each
    * op's layer counters and the traced op time in seconds, drains included.
    */
  private def tracedPasses(spark: SparkSession,
                           fns: Map[String, (SparkSession, String) => DataFrame],
                           dir: String, orders: Seq[Seq[String]]): (Seq[(String, OpLayers)], Double) = {
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    sc.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    val out = ArrayBuffer[(String, OpLayers)]()
    var opNs = 0L
    try orders.foreach(_.foreach { n =>
      between(n)
      val l = tracer.begin()
      val classes0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compile0 = CodeGenerator.compileTime
      sc.setLocalProperty(Tracer.PhaseProp, Tracer.BuildPhase)
      val s = System.nanoTime()
      var m = s
      try {
        val df = try fns(n)(spark, dir) finally sc.setLocalProperty(Tracer.PhaseProp, null)
        m = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
      } catch { case NonFatal(e) => System.err.println(s"[pbench] $n failed (traced): $e") }
      val e = System.nanoTime()
      l.buildMs = (m - s) / 1e6
      l.actionMs = (e - m) / 1e6
      l.codegenClasses = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0
      l.codegenNs = CodeGenerator.compileTime - compile0
      tracer.drain()
      opNs += System.nanoTime() - s
      out += n -> l
    }) finally {
      spark.listenerManager.unregister(tracer)
      sc.removeSparkListener(tracer)
    }
    (out.toSeq, opNs / 1e9)
  }
}
