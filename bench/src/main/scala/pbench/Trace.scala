package pbench

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op layer counters, filled from public Spark observers. */
final class OpLayers {
  var buildMs = 0.0
  var actionMs = 0.0
  var jobs, stages, tasks, buildJobs, openJobs = 0L
  var openMs, taskWaitMs, runMs, gcMs, deserMs, fetchWaitMs = 0L
  var cpuNs, shuffleWrite, shuffleRead, spill, input = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var codegenClasses = 0L
  var codegenNs = 0L

  def toMap: Map[String, Any] = scala.collection.immutable.ListMap(
    "build_ms" -> buildMs, "action_ms" -> actionMs, "jobs" -> jobs,
    "build_jobs" -> buildJobs, "open_jobs" -> openJobs, "open_ms" -> openMs,
    "stages" -> stages, "tasks" -> tasks, "task_wait_ms" -> taskWaitMs,
    "task_run_ms" -> runMs, "task_cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
    "deser_ms" -> deserMs, "shuffle_write_bytes" -> shuffleWrite,
    "shuffle_read_bytes" -> shuffleRead, "shuffle_fetch_wait_ms" -> fetchWaitMs,
    "spill_bytes" -> spill, "input_bytes" -> input,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs, "codegen_classes" -> codegenClasses,
    "codegen_compile_ms" -> codegenNs / 1e6)
}

/** Collects job, stage and task metrics (SparkListener) and planning phases
  * (QueryExecutionListener) for one op at a time.
  *
  * Both listeners sit on Spark's shared listener queue, which delivers in
  * order. After each op a one-task sentinel job runs; once its end event
  * arrives, every event the op caused has been delivered, so the op's
  * counters are complete without sleeping.
  */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  import Tracer._

  @volatile private var cur = new OpLayers
  @volatile private var latch: CountDownLatch = _
  private val ignoredStages = mutable.Set[Int]()
  private val stageSubmitted = mutable.Map[Int, Long]()
  private val openJobStart = mutable.Map[Int, Long]()
  private val sentinelJobs = mutable.Set[Int]()

  /** Starts counting a new op; returns the counters it will fill. */
  def begin(): OpLayers = { cur = new OpLayers; cur }

  /** Runs the sentinel job and waits until the listener has seen its end. */
  def drain(): Unit = {
    latch = new CountDownLatch(1)
    sc.setLocalProperty(PhaseProp, SentinelPhase)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(PhaseProp, null)
    require(latch.await(60, TimeUnit.SECONDS), "listener bus did not drain")
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties).map(_.getProperty(PhaseProp)).orNull
    if (phase == SentinelPhase) {
      sentinelJobs += e.jobId
      ignoredStages ++= e.stageIds
    } else {
      cur.jobs += 1
      if (phase == BuildPhase) cur.buildJobs += 1
      // a stage's name is its job's short call site ("parquet at Tables.scala:8")
      if (e.stageInfos.exists(_.name.contains(TablesCallSite))) {
        cur.openJobs += 1
        openJobStart(e.jobId) = e.time
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobStart.remove(e.jobId).foreach(t0 => cur.openMs += e.time - t0)
    if (sentinelJobs.remove(e.jobId)) latch.countDown()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    if (!ignoredStages.contains(id)) {
      cur.stages += 1
      stageSubmitted(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (!ignoredStages.contains(e.stageId)) {
      val c = cur
      c.tasks += 1
      stageSubmitted.get(e.stageId).foreach(t => c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - t))
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.deserMs += m.executorDeserializeTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  private def phases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(name: String) = p.get(name).map(_.durationMs).getOrElse(0L)
    cur.analysisMs += ms("analysis")
    cur.optimizationMs += ms("optimization")
    cur.planningMs += ms("planning")
  }
}

object Tracer {
  val PhaseProp = "pbench.phase"
  val BuildPhase = "build"
  val SentinelPhase = "sentinel"
  val TablesCallSite = "Tables.scala"
}
