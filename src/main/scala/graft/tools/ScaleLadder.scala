package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Verify}
import scala.util.control.NonFatal

/** Four-rung scale ladder (×1/×10/×30/×100) with a model fit — the
  * follow-through on the r9-#5 decade question.
  *
  * SCALE10/SCALE30 report the raw exponent log_n(t_n/t_1), but that
  * metric RISES toward 1.0 for any perfectly linear query as its fixed
  * overhead amortizes (t = c + a·n ⇒ exponent → 1 from below), so a
  * rising exponent across decades (q50: 0.61@×10 → 0.70@×30) is
  * ambiguous between "healthy linear" and "emerging quadratic". This
  * tool separates the two the honest way:
  *
  *   1. measure all four rungs IN ONE SESSION (the ×10-vs-×30 artifacts
  *      were separate sessions whose t1 for the same query differed by
  *      40% — cross-file fits inherit that jitter);
  *   2. fit t = c + a·n on the ×1/×10/×30 rungs (least squares);
  *   3. PREDICT t(100) from that fit, then compare the measured ×100
  *      rung against the prediction. A linear query lands near 1.0;
  *      a quadratic term b·n² that is invisible at ×30 multiplies by
  *      ~11 at ×100 and shows up as measured ≫ predicted.
  *
  * The per-rung marginal cost (t_n − t_1)/(n − 1) is also reported: flat
  * marginals are the linear signature, growing marginals the quadratic
  * one. Emits `SCALE_LADDER.json`.
  */
object ScaleLadder {

  val Rungs: Seq[Int] = Seq(1, 10, 30, 100)

  val Queries: Seq[String] = Seq(
    "q50_neardup_clusters", "q81_editdist_neardup",
    "q43_simhash_hamming_pairs")

  /** Least-squares fit of t = c + a·n over (n, t) points. */
  def fitLinear(pts: Seq[(Int, Double)]): (Double, Double) = {
    val n = pts.size.toDouble
    val sx = pts.map(_._1.toDouble).sum
    val sy = pts.map(_._2).sum
    val sxx = pts.map(p => p._1.toDouble * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val a = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val c = (sy - a * sx) / n
    (c, a)
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rungs = sys.env.get("SPARK_GRAFT_LADDER_RUNGS")
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Rungs)
    val queries = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Queries)
    val cpus = graft.Host.cpus
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "2").toInt
    require(rungs.head == 1 && rungs.size >= 3,
      s"ladder needs rung 1 plus at least two inflated rungs, got $rungs")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // one JVM plays driver + all 32 executors here, and the ×100
      // rung's serialized artifact pin (GBs of evictable bytes) will
      // happily fill the unified pool's whole allowance (0.6 of heap,
      // storage half-protected) — measured: old gen pinned at 99.9%
      // live and full-GC walls, because plain JVM allocation (task
      // deserialization, codegen buffers) does not go through the
      // memory manager and finds no headroom. 0.45 leaves ~half the
      // heap unmanaged. On a real cluster each executor sizes its own
      // pool and the artifact would ride the store, not session memory;
      // this is a single-box measurement-harness setting, not engine
      // guidance (Bench at sf0.1 keeps Spark defaults).
      .config("spark.memory.fraction", "0.45")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Verify.silenceIntendedGlobalWindowWarn()

    val dirs: Map[Int, String] = rungs.map { n =>
      val d = if (n == 1) src else {
        val dst = s"target/scale$n/data"
        System.err.println(s"[ladder] inflating ×$n → $dst")
        Scale10.inflate(spark, src, dst, n)
        dst
      }
      n -> d
    }.toMap

    def runOnce(name: String, dir: String): Double = {
      graft.queries.Artifacts.clearAll()
      // clearing the memo maps drops REFERENCES, but the localCheckpoint
      // blocks behind them stay in the block manager until the
      // ContextCleaner's weak refs process — at the ×100 rung the
      // accumulated ×10/×30 blocks pinned old-gen at 96%+ and the rung
      // measured a GC WALL (236 full GCs / 655 of 900 s), not the plan.
      // Nothing references these RDDs after the memo clear, so drop
      // them eagerly (untimed) — BLOCKING, so a ×100 repeat never
      // starts while the previous repeat's gigabytes are still async-
      // draining from the store pool.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      System.gc()
      dt
    }

    // codegen/JIT warmup on the small side only
    queries.foreach(q => try runOnce(q, src) catch { case NonFatal(e) =>
      System.err.println(s"[ladder] warmup $q failed: $e")
    })

    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

    val rows = queries.map { q =>
      val times = rungs.map { n =>
        val t = (1 to repeats).map { r =>
          System.err.println(s"[ladder] $q @${n}x ($r/$repeats)")
          runOnce(q, dirs(n))
        }.min
        System.err.println(s"[ladder] $q t$n=${num(t)}")
        n -> t
      }
      val t1 = times.head._2
      val fitPts = times.init // all but the top rung
      val (c, a) = fitLinear(fitPts)
      val (nTop, tTop) = times.last
      val predTop = c + a * nTop
      val ratio = tTop / predTop
      // flat marginal cost per added copy = the linear signature
      val marginals = times.tail.map { case (n, t) =>
        n -> (t - t1) / (n - 1).toDouble
      }
      val verdict =
        if (ratio <= 1.25) "linear"
        else if (ratio <= 1.6) "mildly superlinear — watch"
        else "superlinear — quadratic term emerging"
      System.err.println(
        s"[ladder] $q fit c=${num(c)} a=${num(a)} pred$nTop=${num(predTop)} " +
          s"measured=${num(tTop)} ratio=${num(ratio)} → $verdict")
      val timesJson = times.map { case (n, t) => s""""x$n":${num(t)}""" }
        .mkString("{", ",", "}")
      val margJson = marginals.map { case (n, m) => s""""x$n":${num(m)}""" }
        .mkString("{", ",", "}")
      s""""$q":{"times_sec":$timesJson,"marginal_sec_per_copy":$margJson,""" +
        s""""fit_overhead_sec":${num(c)},"fit_sec_per_copy":${num(a)},""" +
        s""""pred_x${nTop}_sec":${num(predTop)},"measured_x${nTop}_sec":${num(tTop)},""" +
        s""""measured_over_predicted":${num(ratio)},"verdict":"$verdict"}"""
    }
    val heapGb = Runtime.getRuntime.maxMemory / (1L << 30)
    val line =
      s"""{"metric":"scale_ladder","unit":"sec","rungs":[${rungs.mkString(",")}],""" +
        s""""sf":"$src","repeats":$repeats,"heap_gb":$heapGb,""" +
        s""""protocol":"one session, full memo clear per run, min of $repeats; fit t=c+a*n on rungs ${fitPts_desc(rungs)}; verdict from measured/predicted at the top rung","queries":${rows.mkString("{", ",", "}")}}"""
    println(line)
    System.out.flush()
    try Files.writeString(Paths.get("SCALE_LADDER.json"), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[ladder] could not write SCALE_LADDER.json: $e")
    }
    spark.stop()
  }

  private def fitPts_desc(rungs: Seq[Int]): String =
    rungs.init.mkString("×", "/×", "")
}
