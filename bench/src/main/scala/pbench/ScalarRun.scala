package pbench

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import graft.bonds.{Bootstrap, Ltn, NtnB, NtnF}
import graft.core.BrCalendar
import Scalar._

/** scalar_pricing: a closed loop of instrument revaluations, no Spark.
  *
  * Ops run day by day through the seed's portfolio, cycling back to the
  * first day; the first op of each day also runs that day's NTN-B
  * bootstrap. Every op's output is verified before timing starts, and
  * each timed op's output must equal its verified output.
  */
object ScalarRun {

  /** (day, instrument) index pairs in timed order: instruments are
    * permuted within each day by the seed.
    */
  def ops(days: Seq[TradeDay], seed: Long): Vector[(Int, Int)] = {
    val rng = new Random(seed * 31 + 7)
    days.indices.flatMap(di => rng.shuffle(days(di).instruments.indices.toVector).map(di -> _)).toVector
  }

  private final class Loop(days: Seq[TradeDay], seq: Vector[(Int, Int)],
                           expected: Map[(Int, Int), Reval],
                           zeros: Map[Int, Seq[Bootstrap.ZeroVertex]]) {
    val samplesMs = ArrayBuffer[Double]()
    var attempted, failed = 0L
    var failedNs = 0L
    /** Traced loop: nanoseconds per span (bootstrap, revalue per kind). */
    val spanNs = scala.collection.mutable.LinkedHashMap[String, Long]().withDefaultValue(0L)

    private def firstOfDay(k: Int) = k == 0 || seq(k - 1)._1 != seq(k)._1

    /** Runs ops from `seq` until `seconds` have passed; returns wall seconds
      * minus the time of failed ops.
      */
    def run(seconds: Double, traced: Boolean): Double = {
      val t0 = System.nanoTime()
      val end = t0 + (seconds * 1e9).toLong
      var k = 0
      while (System.nanoTime() < end) {
        val (di, ii) = seq(k)
        val day = days(di)
        val ins = day.instruments(ii)
        val s = System.nanoTime()
        val z = if (firstOfDay(k)) bootstrap(day) else null
        val m = System.nanoTime()
        val r = revalue(day, ins)
        val e = System.nanoTime()
        val ok = expected.get((di, ii)).contains(r) && (z == null || zeros.get(di).contains(z))
        if (traced) {
          if (z != null) spanNs("bootstrap") += m - s
          spanNs(s"revalue.${ins.kind.name}") += e - m
        }
        attempted += 1
        if (ok) samplesMs += (e - s) / 1e6 else { failed += 1; failedNs += e - s }
        k = (k + 1) % seq.length
      }
      (System.nanoTime() - t0 - failedNs) / 1e9
    }
  }

  /** Untimed warm-up before the timed loop, in seconds. */
  val WarmSeconds = 5.0

  def run(c: Config): RunResult = {
    val days = generate(c.seed)
    val goldenFailures = failedGoldens()
    goldenFailures.foreach(f => System.err.println(s"[pbench] golden failed: $f"))

    // verification pass: every op once, against invariants
    val checks = for {
      (day, di) <- days.zipWithIndex
      (ins, ii) <- day.instruments.zipWithIndex
    } yield {
      val r = revalue(day, ins)
      ((di, ii), r, check(ins, r))
    }
    val badOps = checks.collect { case (k, _, Some(msg)) => k -> msg }
    val zeros = days.indices.map(di => di -> bootstrap(days(di))).toMap
    val badDays = days.indices.flatMap(di => checkBootstrap(days(di), zeros(di)).map(di -> _))
    (badOps ++ badDays).foreach(b => System.err.println(s"[pbench] verification failed: $b"))
    val expected = checks.collect { case (k, r, None) => k -> r }.toMap
    val goodZeros = zeros -- badDays.map(_._1)
    val seq = ops(days, c.seed)

    // warm-up, untimed: the timed loop itself, so that the JIT has
    // compiled the loop as well as the pricing and root-finding paths;
    // then a full GC, so that no timed op collects set-up garbage
    new Loop(days, seq, expected, goodZeros).run(WarmSeconds, traced = false)
    System.gc()

    val setupS = (System.currentTimeMillis() - c.jvmStartMs) / 1000.0
    val loop = new Loop(days, seq, expected, goodZeros)
    val wall = loop.run(c.seconds, traced = false)
    val memMb = Main.peakRssMb()
    val lat = loop.samplesMs.toSeq
    val e2e = Metrics.endToEnd(setupS, memMb, lat, lat.length, wall)

    var layers = Map.empty[String, Double]
    var traceRecord = ListMap.empty[String, Any]
    if (c.trace) {
      val traced = new Loop(days, seq, expected, goodZeros)
      val twall = traced.run(c.seconds, traced = true)
      val overhead = (twall / traced.samplesMs.length) / (wall / lat.length) - 1.0
      layers = microbench(days, expected) + ("trace.overhead_frac" -> overhead)
      traceRecord = ListMap("spans_ms" -> ListMap.from(traced.spanNs.map { case (k, v) => k -> v / 1e6 }),
        "traced_ops" -> traced.samplesMs.length, "traced_wall_s" -> twall)
    }

    val correct = goldenFailures.isEmpty && badOps.isEmpty && badDays.isEmpty && loop.failed == 0
    RunResult(correct, loop.attempted, loop.failed, e2e, layers, ListMap(
      "setup" -> ListMap("setup_s" -> setupS, "goldens" -> goldens().length,
        "golden_failures" -> goldenFailures, "ops_verified" -> checks.length,
        "op_failures" -> badOps.map { case ((di, ii), m) => s"day $di instrument $ii: $m" },
        "bootstrap_failures" -> badDays.map(_._2),
        "round_trip_exact" -> checks.count { case (_, r, _) => r.taxaBack == r.taxa }),
      "latency_counts" -> Stats.counts(lat.length),
      "timed_wall_s" -> wall,
      "samples_ms" -> lat.toArray) ++ traceRecord)
  }

  /** Keeps microbenchmark results observable, so no call is elided. */
  @volatile var blackhole = 0.0

  /** Median over 5 batches of the per-call time of `f` over `n` inputs,
    * in ns. A batch repeats whole sweeps until it has run 20 ms.
    */
  private def perCallNs(n: Int)(f: Int => Double): Double = {
    var sink = 0.0
    val batches = (1 to 5).map { _ =>
      var calls = 0L
      val t0 = System.nanoTime()
      var t = t0
      while (t - t0 < 20000000L) {
        var i = 0
        while (i < n) { sink += f(i); i += 1 }
        calls += n
        t = System.nanoTime()
      }
      (t - t0).toDouble / calls
    }
    blackhole = sink
    Stats.median(batches)
  }

  /** Batch-timed per-call cost of each scalar layer over the portfolio. */
  private def microbench(days: Seq[TradeDay], expected: Map[(Int, Int), Reval]): Map[String, Double] = {
    val all = for {
      (day, di) <- days.zipWithIndex.toVector
      (ins, ii) <- day.instruments.zipWithIndex
      r <- expected.get((di, ii))
    } yield (day, ins, r)
    def of(k: Kind) = all.filter(_._2.kind == k)
    val (ltn, ntnf, ntnb) = (of(LTN), of(NTNF), of(NTNB))
    val cotacoes = ntnb.map { case (_, s, r) => NtnB.cotacao(r.liq, s.venc, r.taxa) }
    val us = 1e-3
    Map(
      "core.contar_ns" -> perCallNs(all.length) { i => BrCalendar.contar(all(i)._3.liq, all(i)._2.venc).toDouble },
      "core.deslocar_ns" -> perCallNs(all.length) { i => BrCalendar.deslocar(all(i)._2.trade, 1).toEpochDay.toDouble },
      "core.eh_dia_util_ns" -> perCallNs(all.length) { i => if (BrCalendar.ehDiaUtil(all(i)._2.venc)) 1.0 else 0.0 },
      "curve.interpolar_ns" -> perCallNs(all.length) { i => all(i)._1.curve.interpolar(all(i)._3.du) },
      "bonds.ltn_pu_us" -> us * perCallNs(ltn.length) { i => val (_, s, r) = ltn(i); Ltn.pu(r.liq, s.venc, r.taxa) },
      "bonds.ltn_taxa_us" -> us * perCallNs(ltn.length) { i => val (_, s, r) = ltn(i); Ltn.taxa(r.liq, s.venc, r.pu) },
      "bonds.ntnf_pu_us" -> us * perCallNs(ntnf.length) { i => val (_, s, r) = ntnf(i); NtnF.pu(r.liq, s.venc, r.taxa) },
      "bonds.ntnf_taxa_us" -> us * perCallNs(ntnf.length) { i => val (_, s, r) = ntnf(i); NtnF.taxa(r.liq, s.venc, r.pu) },
      "bonds.ntnb_cotacao_us" -> us * perCallNs(ntnb.length) { i => val (_, s, r) = ntnb(i); NtnB.cotacao(r.liq, s.venc, r.taxa) },
      "bonds.ntnb_pu_us" -> us * perCallNs(ntnb.length) { i => NtnB.pu(ntnb(i)._2.vna, cotacoes(i)) },
      "bonds.ntnb_taxa_us" -> us * perCallNs(ntnb.length) { i => val (_, s, r) = ntnb(i); NtnB.taxa(r.liq, s.venc, s.vna, r.pu) },
      "bonds.duration_us" -> us * perCallNs(all.length) { i =>
        val (_, s, r) = all(i)
        s.kind match {
          case LTN => Ltn.duration(r.liq, s.venc)
          case NTNF => NtnF.duration(r.liq, s.venc, r.taxa)
          case NTNB => NtnB.duration(r.liq, s.venc, r.taxa)
        }
      },
      "bonds.bootstrap_ms" -> 1e-6 * perCallNs(days.length) { i => bootstrap(days(i)).length.toDouble })
  }
}
