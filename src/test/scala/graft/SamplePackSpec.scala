package graft

import org.apache.spark.sql.functions._
import graft.ops.{Pack, Sample}

/** Deterministic stratified sampling + sequence packing operators. */
class SamplePackSpec extends SparkSuite {
  import spark.implicits._

  test("hexThreshold edges and ordering") {
    assert(Sample.hexThreshold(0.0) == "0000")
    assert(Sample.hexThreshold(-1.0) == "0000")
    assert(Sample.hexThreshold(1.0) == "zzzz")
    assert(Sample.hexThreshold(2.0) == "zzzz")
    assert(Sample.hexThreshold(0.5) == "8000")
    assert(Sample.hexThreshold(0.1) == "1999")
    // every real bucket string sorts below the keep-all sentinel
    assert("ffff" < "zzzz")
  }

  test("stratified sample: deterministic, nested, rate-accurate") {
    val docs = (0L until 4000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "s")

    def ids(rates: Map[String, Double], dflt: Double): Set[Long] =
      Sample.stratifiedHashSample(docs, "id", "s", rates, dflt)
        .select("id").collect().map(_.getLong(0)).toSet

    val r1 = ids(Map("a" -> 0.25), 0.5)
    // re-run returns the identical set (no RNG, no partition state)
    assert(ids(Map("a" -> 0.25), 0.5) == r1)
    // threshold sampling is NESTED: a lower rate is a subset of a higher
    val r2 = ids(Map("a" -> 0.10), 0.25)
    assert(r2.subsetOf(r1))
    // keep-all and keep-none strata
    val all = ids(Map("a" -> 1.0), 0.0)
    assert(all == (0L until 4000L by 2).toSet)
    // rates land near their expectation (md5 buckets are uniform;
    // 2000 draws at p=0.25 / p=0.5 stay well within 5 sigma)
    val aKept = r1.count(_ % 2 == 0).toDouble / 2000
    val bKept = r1.count(_ % 2 == 1).toDouble / 2000
    assert(math.abs(aKept - 0.25) < 0.05, s"a rate $aKept")
    assert(math.abs(bKept - 0.5) < 0.06, s"b rate $bKept")
  }

  test("packSequences: start-offset chunk attribution") {
    // shard x: tokens 4,4,4,5 with budget 10 -> starts 0,4,8,12 ->
    // chunks 0,0,0,1 (the third doc STRADDLES the boundary at 10 but
    // starts at 8, so it belongs to chunk 0)
    val df = Seq(("x", 1L, 4L), ("x", 2L, 4L), ("x", 3L, 4L),
      ("x", 4L, 5L), ("y", 1L, 25L), ("y", 2L, 1L))
      .toDF("shard", "ord", "toks")
    val got = Pack.packSequences(df, "shard", "ord", "toks", 10L)
      .select("shard", "ord", "chunk_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      ("x", 1L, 0L), ("x", 2L, 0L), ("x", 3L, 0L), ("x", 4L, 1L),
      // y: first doc exceeds the budget alone (start 0 -> chunk 0);
      // second starts at 25 -> chunk 2 (empty chunk 1 is fine: chunk
      // ids are token-offset positions, not a dense sequence)
      ("y", 1L, 0L), ("y", 2L, 2L)))
  }

  test("keyed sampling is consistent across tables (correlated sampling)") {
    // two tables sampled on the SAME join key keep the same key set, so
    // sample-then-join == join-then-sample — the property partition-state
    // RNG sampling (df.sample) cannot give
    val orders = (0L until 2000L).map(k => (k, s"o$k")).toDF("k", "o")
    val items = (0L until 2000L).flatMap(k =>
      Seq((k, s"i${k}a"), (k, s"i${k}b"))).toDF("k", "i")
    def keep(df: org.apache.spark.sql.DataFrame) =
      Sample.stratifiedHashSample(
        df.withColumn("s", lit("x")), "k", "s", Map.empty, 0.3).drop("s")
    val sampledJoin = keep(orders).join(keep(items), "k")
    val joinSampled = keep(orders.join(items, "k"))
    assert(sampledJoin.count() > 0)
    assert(sampledJoin.exceptAll(joinSampled).count() == 0)
    assert(joinSampled.exceptAll(sampledJoin).count() == 0)
  }

  test("packSequences rejects a non-positive budget") {
    val df = Seq(("x", 1L, 4L)).toDF("shard", "ord", "toks")
    intercept[IllegalArgumentException](
      Pack.packSequences(df, "shard", "ord", "toks", 0L))
  }

  test("temperature mixing up-weights small sources and clamps at 1") {
    // n = 9000/900/90; sqrt-share targets give rate(a) ~ 0.392 while
    // b and c over-subscribe (rate > 1) and clamp to keep-all
    val docs = ((0L until 9000L).map((_, "a")) ++
      (9000L until 9900L).map((_, "b")) ++
      (9900L until 9990L).map((_, "c"))).toDF("id", "s")
    val kept = Sample.temperatureSample(docs, "id", "s", 0.5)
    val bySrc = kept.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("b") == 900L && bySrc("c") == 90L,
      "over-subscribed small sources clamp to keep-all")
    // a's derived rate: 4995 * sqrt(9000)/ssum / 9000 ~ 0.3919;
    // 9000 md5-uniform draws stay well within 5 sigma (+-240)
    assert(math.abs(bySrc("a") - 0.3919 * 9000) < 300,
      s"source a kept ${bySrc("a")}, expected ~3527")
    // the temperature effect: small sources keep a HIGHER fraction
    assert(bySrc("c").toDouble / 90 > bySrc("a").toDouble / 9000)
    // deterministic: the identical id set on a re-run
    val again = Sample.temperatureSample(docs, "id", "s", 0.5)
    assert(kept.exceptAll(again).count() == 0 &&
      again.exceptAll(kept).count() == 0)
  }

  test("temperature mixing on uniform sources reduces to plain rate") {
    val docs = (0L until 4000L).map(i => (i, s"s${i % 4}")).toDF("id", "s")
    val kept = Sample.temperatureSample(docs, "id", "s", 0.5)
    // uniform strata -> every derived rate = targetFrac = 0.5
    val fracs = kept.groupBy("s").count().collect()
      .map(r => r.getLong(1).toDouble / 1000)
    assert(fracs.length == 4 && fracs.forall(f => math.abs(f - 0.5) < 0.08))
  }
}
