package graft

import org.apache.spark.sql.functions._
import graft.queries.Pipeline16

/** Batch sixteen: triangle/closure arithmetic on hand graphs (q121), the
  * winnowing coverage guarantee on planted shared runs (q122), HLL
  * estimate accuracy + merge determinism (q123), and the exact-power-law
  * Zipf fixture (q124).
  */
class Pipeline16Spec extends SparkSuite {
  private def wordsDf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("words"))
  }

  test("q121 core: triangle plus pendant plus isolate, exact closure") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("id_a", "id_b")
    val out = Pipeline16.triangleStats(nodes, edges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) == ((2L, 1L, 1.0)))
    assert(out(2L) == ((2L, 1L, 1.0)))
    // node 3: degree 3, one triangle, lcc = 2*1/(3*2)
    assert(out(3L) == ((3L, 1L, 0.333333)))
    assert(out(4L) == ((1L, 0L, 0.0))) // pendant: d < 2 → lcc 0
    assert(out(5L) == ((0L, 0L, 0.0))) // isolate
  }

  test("q121 core: a 4-clique closes every wedge") {
    import spark.implicits._
    val nodes = (1L to 4L).toDF("id")
    val edges = (for {
      a <- 1L to 4L; b <- (a + 1) to 4L
    } yield (a, b)).toDF("id_a", "id_b")
    val out = Pipeline16.triangleStats(nodes, edges).collect()
    // each node: degree 3, C(3,2)=3 triangles through it, lcc exactly 1
    assert(out.forall(r =>
      r.getLong(1) == 3L && r.getLong(2) == 3L && r.getDouble(3) == 1.0))
    // the clique has C(4,3)=4 triangles; each counted at 3 vertices
    assert(out.map(_.getLong(2)).sum == 12L)
  }

  test("q122 core: a shared run of >= w+k-1 words shares a fingerprint") {
    // k=4, w=8 → guarantee threshold 11 words. The two docs share an
    // 11-word run embedded at different offsets in unrelated prefixes.
    val run = (1 to 11).map(i => s"r$i").mkString(" ")
    val rows = Seq(
      1L -> s"alpha beta gamma delta epsilon zeta $run",
      2L -> s"$run omega psi chi phi upsilon tau")
    val out = Pipeline16.winnowFingerprints(wordsDf(rows)).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // both docs: 17 words → 14 grams → 7 windows; ≥1 shared fp
    assert(out(1L)._1 == 14L && out(2L)._1 == 14L)
    assert(out(1L)._3 >= 1L, "winnowing must witness the shared run")
    assert(out(2L)._3 >= 1L)
    assert(out(1L)._4 == 2L && out(2L)._4 == 2L)
  }

  test("q122 core: short docs fingerprint empty but count grams") {
    // 6 words < k+w-1 = 11 → no window fits: 3 grams, 0 fingerprints
    val out = Pipeline16.winnowFingerprints(
      wordsDf(Seq(7L -> "a b c d e f"))).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(1) == 3L && r.getLong(2) == 0L &&
      r.getLong(3) == 0L && r.getLong(4) == 0L)
  }

  test("q122 core: selected set is dense enough and bounded by windows") {
    // winnowing selects ≥ 1 and ≤ #windows fingerprints; expected
    // density ~2/(w+1) — assert the hard bounds, not the expectation
    val text = (1 to 200).map(i => s"w${(i * 37) % 91}").mkString(" ")
    val r = Pipeline16.winnowFingerprints(wordsDf(Seq(1L -> text)))
      .collect().head
    val nWindows = 200 - 4 - 8 + 2 // n_grams - w + 1 = 197 - 8 + 1
    assert(r.getLong(2) >= 1L && r.getLong(2) <= nWindows)
  }

  test("q123 HLL: estimate within the error contract, merge-deterministic") {
    import spark.implicits._
    val n = 5000
    val df = (1 to n).map(i => s"user_$i").toDF("v")
      .select(graft.dedup.Hll.md5Hex(col("v")).as("h"))
    def est(parts: Int): Double =
      df.repartition(parts).agg(graft.dedup.Hll.hllDistinct(col("h")))
        .head().getDouble(0)
    val e1 = est(1)
    assert(math.abs(e1 - n) / n < 0.15,
      s"HLL(256) on $n distincts must sit within ~2σ, got $e1")
    // register max-merge is order/partitioning-independent: estimates
    // from 1, 7 and 32 partials are bit-identical
    assert(est(7) == e1 && est(32) == e1)
  }

  test("q128 HLL: folding stored shard registers == the direct sketch") {
    import spark.implicits._
    import graft.dedup.Hll
    // 4 shards with overlapping user populations — idempotent max-merge
    // must absorb the overlap, landing exactly on the direct estimate
    val rows = (1 to 4000).map(i => (i % 4, s"user_${i % 1100}"))
    val df = rows.toDF("shard", "v")
      .select(col("shard"), Hll.md5Hex(col("v")).as("h"))
    val folded = df.groupBy(col("shard"))
      .agg(Hll.hllRegisters(col("h")).as("regs"))
      .agg(Hll.hllFold(col("regs"))).head().getDouble(0)
    val direct = df.agg(Hll.hllDistinct(col("h"))).head().getDouble(0)
    assert(folded == direct,
      "register fold must be bit-identical to the one-pass sketch")
  }

  test("q123 HLL: empty input estimates zero; duplicates don't move it") {
    import spark.implicits._
    assert(graft.dedup.Hll.estimate(new Array[Byte](256)) == 0.0)
    val base = (1 to 100).map(i => s"u$i")
    def estOf(vs: Seq[String]): Double =
      vs.toDF("v").select(graft.dedup.Hll.md5Hex(col("v")).as("h"))
        .agg(graft.dedup.Hll.hllDistinct(col("h"))).head().getDouble(0)
    assert(estOf(base) == estOf(base ++ base ++ base))
  }

  test("q127 core: shared runs form families; the df cap kills boilerplate") {
    val run = (1 to 11).map(i => s"r$i").mkString(" ")
    val rows = Seq(
      1L -> s"alpha beta gamma delta epsilon zeta $run",
      2L -> s"$run omega psi chi phi upsilon tau",
      3L -> s"one two three four five six $run seven eight",
      9L -> "lonely words that never repeat anything from the others here")
    // all three run-sharing docs must land in ONE family (transitive),
    // rep = min id; the isolated doc is its own singleton
    val out = Pipeline16.winnowFamilies(wordsDf(rows), minShared = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L) == ((1L, 3L, true)))
    assert(out(2L) == ((1L, 3L, false)) && out(3L) == ((1L, 3L, false)))
    assert(out(9L) == ((9L, 1L, true)))
    // df cap: three IDENTICAL docs share exactly one fp set, each fp at
    // df=3 > dfMax=2 → boilerplate, excluded, everyone a singleton
    val ident = Seq(1L -> run, 2L -> run, 3L -> run)
    val capped = Pipeline16.winnowFamilies(wordsDf(ident), dfMax = 2,
        minShared = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(capped.values.forall(_ == 1L),
      "a fingerprint over the df cap must not create families")
  }

  test("q130 core: identical halves drift zero; a planted shift is exact") {
    import spark.implicits._
    // dim-4 fixture: label 0 identical across halves; label 1's second
    // half doubles the vector → cos 1 (drift 0) but l2 = |c| exactly
    def vec(xs: Double*) = xs.map(_.toFloat).toArray
    val rows = Seq(
      (0L, vec(1, 0, 0, 0), 0), (10L, vec(1, 0, 0, 0), 0),
      (1L, vec(0, 3, 0, 0), 1), (11L, vec(0, 6, 0, 0), 1),
      (2L, vec(1, 0, 0, 0), 2), (12L, vec(0, 1, 0, 0), 2))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val out = Pipeline16.centroidDrift(emb, "vec_id", "embedding",
        "label", splitAt = 10L, dim = 4).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(3), r.getDouble(4)))).toMap
    assert(out(0L) == ((0.0, 0.0)))
    assert(out(1L) == ((0.0, 3.0))) // same direction, |3-6| shift
    assert(out(2L) == ((1.0, math.sqrt(2.0) match {
      case s => BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }))) // orthogonal unit centroids: cos 0 → drift 1, l2 √2
  }

  test("q124 core: an exact power law fits slope -1 with r2 = 1") {
    import spark.implicits._
    // freq(r) = 12/r for r = 1..4: ln c = ln 12 − ln r exactly
    val text = Seq.fill(12)("w1") ++ Seq.fill(6)("w2") ++
      Seq.fill(4)("w3") ++ Seq.fill(3)("w4")
    val words = Seq(("en", text.mkString(" ")))
      .toDF("lang", "text")
      .select(col("lang"), split(col("text"), " ").as("words"))
    val r = Pipeline16.zipfSlopeOfWords(words).collect().head
    assert(r.getString(0) == "en")
    assert(r.getLong(1) == 4L)
    assert(math.abs(r.getDouble(2) - -1.0) < 1e-9)
    assert(r.getDouble(3) == 1.0)
  }
}
