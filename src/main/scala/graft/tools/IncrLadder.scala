package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Verify
import graft.queries.{ClusterMemo, Pipeline6, Tables}

/** Scale ladder for the incremental-admission loop (judge directive
  * r10-#6): the 100 TB story's DAILY shape is the q76/q108 marginal
  * fold — a small new batch admitted against stored corpus artifacts —
  * measured so far only at ×1. This main measures the fold at
  * ×1/×10/×30 corpus inflation with the batch held at the REALISTIC
  * daily ratio (~1:100, batchMod = 100 — the board queries' mod-5/10
  * ratios are oracle-shaped, not production-shaped), running the
  * IDENTICAL plans ([[Pipeline6.incrementalDedup]];
  * [[graft.dedup.DedupOps.incrementalClustersFromIndex]] fed by the
  * ClusterMemo corpus artifacts, exactly q108's wiring).
  *
  * Protocol per rung: build "yesterday's" corpus artifacts UNTIMED
  * (in production they are stored state — but their build time is
  * recorded as `full_recompute_sec` context: the corpus-labels build IS
  * the from-scratch clustering a non-incremental pipeline would rerun
  * per day), then time the marginal fold (min of repeats, memos warm —
  * the same semantics Bench gives q76/q108). Reports per-rung fold
  * times, the raw exponent log_n(t_n/t_1) (SCALE10's metric), the
  * t = c + a·n least-squares fit ([[ScaleLadder.fitLinear]] — raw
  * exponents rise toward 1 for any linear query as fixed overhead
  * amortizes), and fold/full-recompute ratios. Emits `INCR_LADDER.json`.
  */
object IncrLadder {

  val Rungs: Seq[Int] = Seq(1, 10, 30)
  val BatchMod = 100

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rungs = sys.env.get("SPARK_GRAFT_LADDER_RUNGS")
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Rungs)
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt
    val cpus = graft.Host.cpus
    require(rungs.head == 1, s"ladder needs rung 1 first, got $rungs")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // single-JVM headroom for the ×100 rung's untimed full-recompute
      // contrast build (ScaleLadder's harness note: the first 4-rung
      // attempt OOMed in exactly that build with Spark's default split)
      .config("spark.memory.fraction", "0.45")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Verify.silenceIntendedGlobalWindowWarn()
    require(graft.queries.ArtifactStore.dirOf(spark).isEmpty,
      "IncrLadder measures production computation; the artifact store must be unset")

    val dirs: Map[Int, String] = rungs.map { n =>
      val d = if (n == 1) src else {
        val dst = s"target/scale$n/data"
        System.err.println(s"[incr] inflating ×$n → $dst")
        Scale10.inflate(spark, src, dst, n)
        dst
      }
      n -> d
    }.toMap

    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    def q76Fold(d: String): DataFrame =
      Pipeline6.incrementalDedup(spark, d, BatchMod)

    def q108Fold(d: String): DataFrame = {
      val batch = Tables.documents(spark, d)
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") % BatchMod === 0)
      graft.dedup.DedupOps.incrementalClustersFromIndex(
        ClusterMemo.corpusBandIndex(spark, d, BatchMod), batch,
        ClusterMemo.corpusLabels(spark, d, 0.5, BatchMod),
        "doc_id", "text", threshold = 0.5)
    }

    /** (untimed corpus-state build seconds, timed fold min seconds). */
    def measure(name: String, d: String, warm: String => Unit,
                fold: String => DataFrame): (Double, Double) = {
      val t0 = System.nanoTime()
      warm(d)
      val tWarm = (System.nanoTime() - t0) / 1e9
      System.gc()
      val t = (1 to repeats).map { r =>
        System.err.println(s"[incr] $name fold @$d ($r/$repeats)")
        val f0 = System.nanoTime()
        fold(d).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - f0) / 1e9
        System.gc()
        dt
      }.min
      (tWarm, t)
    }

    val shapes: Seq[(String, String => Unit, String => DataFrame)] = Seq(
      ("q76_incremental_dedup_m100",
        (d: String) => { ClusterMemo.incrDocArtifacts(spark, d, BatchMod).count(): Unit },
        q76Fold _),
      ("q108_incremental_clusters_m100",
        (d: String) => {
          ClusterMemo.corpusLabels(spark, d, 0.5, BatchMod).count()
          ClusterMemo.corpusBandIndex(spark, d, BatchMod).count(): Unit
        },
        q108Fold _))

    // codegen/JIT warmup on the small side only (untimed throwaway)
    shapes.foreach { case (_, warm, fold) =>
      try { warm(src); fold(src).write.format("noop").mode("overwrite").save() }
      catch { case e: Throwable => System.err.println(s"[incr] warmup: $e") }
    }

    val rows = shapes.map { case (name, warm, fold) =>
      val times = rungs.map { n =>
        // fresh memos per rung: rung n's corpus state must not subsidize
        // rung m's, and the warm build is re-timed per rung as the
        // full-recompute contrast; the previous rung's stranded
        // localCheckpoint blocks are dropped eagerly (ScaleLadder's
        // GC-wall note) — WITHIN a rung the memos stay warm by design
        graft.queries.Artifacts.clearAll()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        val (tFull, tFold) = measure(name, dirs(n), warm, fold)
        System.err.println(
          s"[incr] $name x$n fold=${num(tFold)} corpus_build=${num(tFull)}")
        (n, tFold, tFull)
      }
      val t1 = times.head._2
      val (c, a) = ScaleLadder.fitLinear(times.map(t => (t._1, t._2)))
      val expos = times.tail.map { case (n, t, _) =>
        n -> math.log(t / t1) / math.log(n.toDouble)
      }
      val timesJson = times.map { case (n, t, _) => s""""x$n":${num(t)}""" }
        .mkString("{", ",", "}")
      val fullJson = times.map { case (n, _, f) => s""""x$n":${num(f)}""" }
        .mkString("{", ",", "}")
      val ratioJson = times.map { case (n, t, f) =>
        s""""x$n":${num(t / f)}""" }.mkString("{", ",", "}")
      val expoJson = expos.map { case (n, e) => s""""x$n":${num(e)}""" }
        .mkString("{", ",", "}")
      System.err.println(s"[incr] $name exponents " +
        expos.map { case (n, e) => s"x$n=${num(e)}" }.mkString(" "))
      s""""$name":{"fold_sec":$timesJson,"exponent":$expoJson,""" +
        s""""fit_overhead_sec":${num(c)},"fit_sec_per_copy":${num(a)},""" +
        s""""full_recompute_sec":$fullJson,"fold_over_full":$ratioJson}"""
    }
    val heapGb = Runtime.getRuntime.maxMemory / (1L << 30)
    val line =
      s"""{"metric":"incr_ladder","unit":"sec","rungs":[${rungs.mkString(",")}],""" +
        s""""sf":"$src","repeats":$repeats,"batch_mod":$BatchMod,"heap_gb":$heapGb,""" +
        s""""protocol":"batch held at 1:$BatchMod of the corpus per rung; corpus artifacts built untimed (their build time = full_recompute_sec context), fold timed min of $repeats with warm memos (Bench's q76/q108 semantics)","queries":${rows.mkString("{", ",", "}")}}"""
    println(line)
    System.out.flush()
    try Files.writeString(Paths.get("INCR_LADDER.json"), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[incr] could not write INCR_LADDER.json: $e")
    }
    spark.stop()
  }
}
