package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Measure, Sessions, SparkEntry}
import graft.Measure.num
import graft.queries.{Artifacts, ArtifactStore, ClusterMemo, Pipeline6, Tables}

/** The scale ladders: each op timed on ×n inflations of `documents` and
  * `events` (rung 1 is SPARK_GRAFT_SF_DIR itself, default sf0.1), all
  * rungs in one session.
  *
  *   sbt "runMain graft.tools.Ladder <board|fit|incr>"
  *
  *   - `board` (SCALE<top>.json): the heavy board queries at ×1/×10.
  *   - `fit` (SCALE_LADDER.json): q50/q81/q43 at ×1/×10/×30/×100. The raw
  *     exponent log_n(t_n/t_1) RISES toward 1.0 for any linear query as
  *     its fixed overhead amortizes (t = c + a·n), so a rising exponent is
  *     ambiguous between "healthy linear" and "emerging quadratic". With
  *     three or more rungs the runner fits t = c + a·n on every rung but
  *     the top one, predicts the top rung and reports measured/predicted:
  *     a quadratic term invisible at ×30 multiplies by ~11 at ×100.
  *   - `incr` (INCR_LADDER.json): the q76/q108 incremental folds — a daily
  *     batch at a 1:100 ratio admitted against stored corpus artifacts —
  *     at ×1/×10/×30, running the plans of [[Pipeline6.incrementalDedup]]
  *     and of [[graft.dedup.DedupOps.incrementalClustersFromIndex]] fed by
  *     the ClusterMemo corpus artifacts (q108's wiring).
  *
  * SPARK_GRAFT_LADDER_RUNGS (comma list starting with 1) replaces the
  * rungs, SPARK_GRAFT_SCALE_QUERIES replaces the ops with those board
  * queries, SPARK_GRAFT_REPEATS the repeat count. Each op's time per rung
  * is the min of its repeats; every rung above 1 reports the exponent and
  * the marginal cost per added copy (t_n − t_1)/(n − 1), flat for a linear
  * op.
  *
  * Inflation shape — copies must be DISJOINT corpora, not duplicates:
  * ten verbatim copies would multiply every gram's document frequency
  * by 10, EMPTYING the rare-gram families (df ∈ [2,5] finds nothing)
  * and exploding every LSH bucket with 10-way mutual near-dups — an
  * adversarial skew test, not a scale test. Copy k > 0 applies a
  * per-copy letter permutation from the affine-cipher family
  * ([[permutation]]; Caesar rotation is its a = 1 slice, and the full
  * family keeps copies pairwise distinct past the 26 rotations a ×30
  * run needs): the mapping is injective, so every
  * per-copy structure — token lengths, word frequencies, gram dfs,
  * shingle sets, near-dup pairs, exact-dup groups — matches the
  * original EXACTLY, while every character 5-shingle containing a
  * letter differs across copies, so MinHash signatures, LSH bands,
  * gram keys and fingerprints are all copy-disjoint and the ×10 corpus
  * behaves like ten shards of fresh data — which is what 100 TB IS.
  * (A copy marker suffixed to each token leaves most intra-word
  * shingles shared across copies, and pair generation explodes ~100×.)
  * Events keep their timestamp distribution (10× denser windows — real
  * scale) with re-keyed event/user ids so bootstrap hash draws and
  * per-user groups stay well-formed. All other tables are symlinked
  * unchanged.
  */
object Ladder {

  /** What an op clears, and when. */
  sealed trait Memo

  /** Every memo is cleared before each repeat: the op pays its full
    * lineage, so the exponent compares computation, not cache luck.
    */
  case object ClearEachRepeat extends Memo

  /** Every memo is cleared once per rung, then `build` makes the corpus
    * state untimed (its time is reported as `full_recompute_sec`: the
    * from-scratch clustering a non-incremental pipeline reruns per day);
    * the repeats keep that state warm, as Bench gives q76/q108.
    */
  final case class WarmPerRung(build: (SparkSession, String) => Unit) extends Memo

  final case class Op(name: String, memo: Memo,
                      run: (SparkSession, String) => DataFrame)

  def boardOp(name: String): Op =
    Op(name, ClearEachRepeat, SparkEntry.queries(name))

  final case class Spec(metric: Seq[Int] => String, rungs: Seq[Int],
                        repeats: Int, ops: Seq[Op])

  val BatchMod = 100

  val IncrOps: Seq[Op] = Seq(
    Op("q76_incremental_dedup_m100",
      WarmPerRung((s, d) => ClusterMemo.incrDocArtifacts(s, d, BatchMod).count(): Unit),
      (s, d) => Pipeline6.incrementalDedup(s, d, BatchMod)),
    Op("q108_incremental_clusters_m100",
      WarmPerRung { (s, d) =>
        ClusterMemo.corpusLabels(s, d, 0.5, BatchMod).count()
        ClusterMemo.corpusBandIndex(s, d, BatchMod).count(): Unit
      },
      { (s, d) =>
        val batch = Tables.documents(s, d)
          .select(col("doc_id"), col("text"))
          .filter(col("doc_id") % BatchMod === 0)
        graft.dedup.DedupOps.incrementalClustersFromIndex(
          ClusterMemo.corpusBandIndex(s, d, BatchMod), batch,
          ClusterMemo.corpusLabels(s, d, 0.5, BatchMod),
          "doc_id", "text", threshold = 0.5)
      }))

  val Specs: Map[String, Spec] = Map(
    "board" -> Spec(r => s"scale${r.last}", Seq(1, 10), 2, Seq(
      "q158_value_ci", "q50_neardup_clusters", "q86_containment_pairs",
      "q92_nb_lang_confusion", "q81_editdist_neardup",
      "q67_bloom_decontaminate", "q112_dup_spans", "q79_passage_dedup",
      "q96_dsir_weights", "q125_contamination_attribution",
      // over the inflated `documents` corpus only: embeddings/lineitem
      // riding queries are excluded — those tables are symlinked
      // unchanged, so a ×10 point would measure nothing
      "q159_bloom_fpr_audit", "q153_filter_agreement", "q162_filter_kappa",
      "q43_simhash_hamming_pairs", "q122_winnow_fingerprints",
      "q127_winnow_families", "q111_rm3_expansion", "q169_bpe_tokenize")
      .map(boardOp)),
    "fit" -> Spec(_ => "scale_ladder", Seq(1, 10, 30, 100), 2, Seq(
      "q50_neardup_clusters", "q81_editdist_neardup",
      "q43_simhash_hamming_pairs").map(boardOp)),
    "incr" -> Spec(_ => "incr_ladder", Seq(1, 10, 30), 3, IncrOps))

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

  /** The letter permutation of copy `k` — an AFFINE cipher i → a·i + b
    * (mod 26) on letter indices, case-preserving. Copy 0 is (a,b) =
    * (1,0), the identity; Caesar rotation is the a = 1 slice. The full
    * affine family (12 units × 26 shifts = 312 distinct permutations)
    * exists because rotations alone ALIAS past k = 25 (rot(26) = rot(0)
    * — a ×30 inflation on rotations would duplicate four corpora
    * verbatim, the exact adversarial-duplicate artifact the rotation
    * scheme was built to avoid). Distinct (a,b) ⇒ distinct
    * permutations, injective per copy, length-preserving; an affine map
    * fixes at most gcd(a−1, 26) ≤ 2 letters, so 5-char shingles stay
    * copy-disjoint for real words (the same argument as rotation).
    *
    * Enumeration order matters: copies 0–25 are the PURE ROTATIONS
    * (a = 1, b = k), whose pairwise composed maps fix ZERO letters. A
    * multiplier-first order gives copies k < 12 shift b = 0, and every
    * pure-multiplier map fixes 'a' and 'n', so "a"/"an" would be shared
    * verbatim by all copies of a ×10 run, skewing term statistics (RM3
    * expansion, BPE vocab counts).
    */
  def permutation(k: Int): (String, String) = {
    require(k >= 0 && k < 312, s"affine family supports 312 copies, got $k")
    val units = Array(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    // k = 0 must be the identity: a = 1 (units(0)) and b = 0
    val a = units(k / 26)
    val b = k % 26
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val mapped = (0 until 26).map(i => lower((a * i + b) % 26)).mkString
    val (digFrom, digTo) = digitPermutation(k)
    (lower + lower.toUpperCase + digFrom,
      mapped + mapped.toUpperCase + digTo)
  }

  /** The DIGIT permutation of copy `k` — an affine cipher on 0–9
    * (units mod 10 = {1,3,7,9}, 40 distinct maps, k = 0 the identity).
    *
    * Closes the one verbatim-duplication hole the letter family leaves:
    * a LETTER-FREE text (all digits/punctuation) is fixed by every
    * letter permutation, so its copies would be exact cross-copy
    * duplicates — the adversarial-duplicate artifact the scheme exists
    * to avoid. Rotating digits per copy (shift-first enumeration,
    * mirroring the letter family's rotation-first order) makes
    * digit-bearing texts copy-disjoint too; the family has 40 members,
    * so past ×40 letter-free docs duplicate only across ⌈n/40⌉-copy
    * groups. Punctuation/whitespace-only texts remain verbatim-shared
    * (no remap preserves their character classes) — exact duplicates a
    * production pipeline removes before LSH.
    *
    * This is hardening, not the cause of the ×10 runs' >1000-member LSH
    * buckets (ProbePairGrowth, commit c8aa06f): each sits WITHIN one
    * copy, an independent MinHash draw over the testdata's ~40-word
    * vocabulary, so bucket size is bounded by the per-copy doc count and
    * band-pair volume still grows linearly with copies.
    */
  def digitPermutation(k: Int): (String, String) = {
    val units = Array(1, 3, 7, 9)
    val m = k % 40
    val a = units(m / 10)
    val b = m % 10
    val digits = "0123456789"
    val mapped = (0 until 10).map(i => digits((a * i + b) % 10)).mkString
    (digits, mapped)
  }

  def inflate(spark: SparkSession, src: String, dst: String,
              nCopies: Int): Unit = {
    val dstDir = Paths.get(dst)
    // the marker encodes WHICH corpus (path + content signature) was
    // inflated, and under which permutation scheme ("affine-rot1st"), so
    // a changed SPARK_GRAFT_SF_DIR or scheme never reuses a stale copy
    val marker = dstDir.resolve("_SCALE10_OK")
    val stamp =
      s"$src|x$nCopies|affine-rot1st-digrot|" +
        s"${graft.queries.ArtifactStore.corpusSig(src)}\n"
    if (Files.exists(marker) && Files.readString(marker) == stamp) return
    if (Files.exists(dstDir)) {
      graft.queries.ArtifactStore.deleteTree(dstDir.toFile)
    }
    Files.createDirectories(dstDir)

    val copies = spark.range(0, nCopies).select(col("id").cast("int").as("k"))

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docMax = 10000000L
    def perm(k: Int): Column = {
      val (from, to) = permutation(k)
      translate(col("text"), from, to)
    }
    val textOut = (1 until nCopies).foldLeft(
      when(col("k") === 0, col("text"))) { (acc, k) =>
      acc.when(col("k") === k, perm(k))
    }
    docs.crossJoin(broadcast(copies))
      .select(
        (col("doc_id") + col("k").cast("long") * docMax).as("doc_id"),
        textOut.as("text"),
        col("lang"), col("source"),
        // letter rotation preserves length exactly
        col("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    val events = spark.read.parquet(s"$src/events.parquet")
    val evMax = 1000000000L
    events.crossJoin(broadcast(copies))
      .select(
        (col("event_id") + col("k").cast("long") * evMax).as("event_id"),
        col("ts"),
        (col("user_id") + col("k").cast("long") * evMax).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")

    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "embeddings")) {
      val link = dstDir.resolve(s"$t.parquet")
      if (!Files.exists(link))
        Files.createSymbolicLink(link, Paths.get(s"$src/$t.parquet"))
    }
    Files.writeString(marker, stamp)
    ()
  }

  /** Drops every memo and the localCheckpoint blocks behind it, eagerly
    * and blocking: cleared memo maps leave their blocks to the
    * ContextCleaner, and at the ×100 rung the accumulated ×10/×30 blocks
    * pinned old gen at 96%+ (236 full GCs in 900 s), so a repeat never
    * starts while the previous one's gigabytes are still draining.
    */
  private def clearMemos(spark: SparkSession): Unit = {
    Artifacts.clearAll()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** (min of `repeats` timed runs, state-build seconds); None if the op threw. */
  def measure(spark: SparkSession, op: Op, dir: String,
              repeats: Int): Option[(Double, Option[Double])] = {
    def timed(before: => Unit) = Measure.repeat("ladder", s"${op.name} @$dir", repeats)(
      before)(Measure.noop(op.run(spark, dir))).map(_.min)
    op.memo match {
      case ClearEachRepeat => timed(clearMemos(spark)).map(_ -> None)
      case WarmPerRung(build) =>
        for {
          state <- Measure.repeat("ladder", s"${op.name} state @$dir", 1)(
            clearMemos(spark))(build(spark, dir))
          t <- timed(())
        } yield (t, state.headOption)
    }
  }

  private def perRung(vs: Seq[(Int, Double)]): String =
    vs.map { case (n, v) => s""""x$n":${num(v)}""" }.mkString("{", ",", "}")

  /** One op's JSON record from its per-rung (n, time, state) results. */
  def record(times: Seq[(Int, Double, Option[Double])]): String = {
    val t1 = times.head._2
    val up = times.tail
    val fields = Seq(
      s""""times_sec":${perRung(times.map(r => r._1 -> r._2))}""",
      s""""exponent":${perRung(up.map { case (n, t, _) =>
        n -> math.log(t / t1) / math.log(n.toDouble) })}""",
      s""""marginal_sec_per_copy":${perRung(up.map { case (n, t, _) =>
        n -> (t - t1) / (n - 1).toDouble })}""") ++
      (if (times.forall(_._3.isDefined)) Seq(
        s""""full_recompute_sec":${perRung(times.map(r => r._1 -> r._3.get))}""",
        s""""fold_over_full":${perRung(times.map(r => r._1 -> r._2 / r._3.get))}""")
      else Nil) ++
      (if (times.size >= 3) {
        val (c, a) = fitLinear(times.init.map(r => r._1 -> r._2))
        val (nTop, tTop, _) = times.last
        val pred = c + a * nTop
        val ratio = tTop / pred
        val verdict =
          if (ratio <= 1.25) "linear"
          else if (ratio <= 1.6) "mildly superlinear — watch"
          else "superlinear — quadratic term emerging"
        Seq(s""""fit_overhead_sec":${num(c)}""", s""""fit_sec_per_copy":${num(a)}""",
          s""""pred_x${nTop}_sec":${num(pred)}""", s""""measured_x${nTop}_sec":${num(tTop)}""",
          s""""measured_over_predicted":${num(ratio)}""", s""""verdict":"$verdict"""")
      } else Nil)
    fields.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val ladder = args.headOption.filter(Specs.contains).getOrElse {
      System.err.println(s"usage: Ladder <${Specs.keys.toSeq.sorted.mkString("|")}>")
      sys.exit(2)
    }
    val spec = Specs(ladder)
    val src = Measure.sfDir
    val rungs = sys.env.get("SPARK_GRAFT_LADDER_RUNGS")
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(spec.rungs)
    val ops = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map(boardOp))
      .getOrElse(spec.ops)
    val repeats = Measure.repeats(spec.repeats)
    require(rungs.head == 1 && rungs.size >= 2,
      s"ladder needs rung 1 plus at least one inflated rung, got $rungs")
    // one JVM plays driver and every executor here, and the ×100 rung's
    // serialized artifact pins fill the unified pool's whole allowance
    // (0.6 of heap): old gen pinned at 99.9% live and full-GC walls,
    // because plain JVM allocation does not go through the memory
    // manager. 0.45 leaves about half the heap unmanaged. A single-box
    // harness setting, not engine guidance (Bench keeps Spark's default).
    val spark = Sessions.local(conf = Map("spark.memory.fraction" -> "0.45"))
    // the clears only empty the in-JVM memo maps; a configured store
    // would re-serve persisted artifacts instead of computing them
    require(ArtifactStore.dirOf(spark).isEmpty,
      "Ladder measures production computation; the artifact store must be unset")

    val dirs: Map[Int, String] = rungs.map { n =>
      n -> (if (n == 1) src else {
        val dst = s"target/scale$n/data"
        System.err.println(s"[ladder] inflating ×$n → $dst")
        inflate(spark, src, dst, n)
        dst
      })
    }.toMap

    // codegen/JIT warmup on the small side only (a throwaway run)
    ops.foreach(measure(spark, _, src, 1))

    val rows = ops.map { op =>
      val times = rungs.map { n =>
        val (t, state) = measure(spark, op, dirs(n), repeats).getOrElse(
          sys.error(s"${op.name} failed at x$n; a ladder needs every rung"))
        System.err.println(s"[ladder] ${op.name} x$n ${num(t)} s" +
          state.fold("")(s => s", state build ${num(s)} s"))
        (n, t, state)
      }
      s""""${op.name}":${record(times)}"""
    }
    val heapGb = Runtime.getRuntime.maxMemory / (1L << 30)
    val memos = ops.map(_.memo match {
      case ClearEachRepeat => "every memo cleared before each repeat"
      case _: WarmPerRung => "memos cleared once per rung, corpus state built untimed (full_recompute_sec), repeats warm"
    }).distinct.mkString("; ")
    val fit = if (rungs.size >= 3)
      s"; fit t=c+a*n on rungs ${rungs.init.mkString("x", "/x", "")}, measured/predicted at x${rungs.last}" else ""
    val metric = spec.metric(rungs)
    val line =
      s"""{"metric":"$metric","unit":"sec","rungs":[${rungs.mkString(",")}],""" +
        s""""sf":"$src","repeats":$repeats,"heap_gb":$heapGb,""" +
        s""""protocol":"one session, min of $repeats per op and rung; $memos$fit",""" +
        s""""queries":${rows.mkString("{", ",", "}")}}"""
    Measure.emit(line, s"${metric.toUpperCase}.json")
    spark.stop()
  }
}
