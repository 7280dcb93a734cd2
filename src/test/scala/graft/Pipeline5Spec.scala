package graft

import org.apache.spark.sql.functions._
import graft.dedup.Bloom
import graft.ops.{Mix, Sample, Shard}
import graft.sim.Similarity

/** Batch-five operators: token-budget mixing, deterministic sharding,
  * Bloom membership, group centroids, and the double-array DotCosine
  * extension.
  */
class Pipeline5Spec extends SparkSuite {
  import spark.implicits._

  // ------------------------------------------------------------------ Mix

  test("tokenBudgetMix keeps each group's hash-order prefix within budget") {
    // two groups, weight 2:1, budget = half the total tokens
    val rows = (0L until 200L).map(i => (i, if (i % 2 == 0) "a" else "b", 10L))
      .toDF("id", "g", "t")
    val kept = Mix.tokenBudgetMix(rows, "id", "g", col("t"),
      when(col("g") === "a", 2L).otherwise(1L), 1L, 2L)
      .select("g", "id", "n_tokens", "rnk", "budget")
      .collect()

    // exact budgets: total=2000, sumw=3 -> a: 2000*2/(3*2)=666, b: 333
    val budgets = kept.map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(budgets("a") == 666L && budgets("b") == 333L)

    // greedy-fill contract: tokens-before-last < budget, and each group
    // kept exactly ceil(budget/10) docs of its 100
    val byG = kept.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    assert(byG("a") == 67 && byG("b") == 34)

    // membership is the md5-bucket prefix: recompute expected ids
    def bucket(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(id.toString.getBytes("UTF-8"))
        .take(2).map(b => f"${b & 0xff}%02x").mkString
    }
    val expectA = (0L until 200L by 2).sortBy(i => (bucket(i), i)).take(67).toSet
    assert(kept.filter(_.getString(0) == "a").map(_.getLong(1)).toSet
      == expectA)

    // ranks are 1..n in bucket order
    val ranksA = kept.filter(_.getString(0) == "a").map(_.getInt(3)).sorted
    assert(ranksA.toSeq == (1 to 67))
  }

  test("tokenBudgetMix at rate 1 keeps everything; tiny budgets keep the straddler") {
    val rows = Seq((1L, "g", 7L), (2L, "g", 7L), (3L, "g", 7L))
      .toDF("id", "g", "t")
    val all = Mix.tokenBudgetMix(rows, "id", "g", col("t"), lit(1L), 1L, 1L)
    assert(all.count() == 3)
    // budget 21*1/100 = 0 -> nothing fits (cum-toks=0 < 0 is false)
    val none = Mix.tokenBudgetMix(rows, "id", "g", col("t"), lit(1L), 1L, 100L)
    assert(none.count() == 0)
    // budget 1: the first straddling doc is kept (0 < 1), the rest not
    val one = Mix.tokenBudgetMix(rows, "id", "g", col("t"), lit(1L), 1L, 21L)
    assert(one.count() == 1)
  }

  // ---------------------------------------------------------------- Shard

  test("shard assignment is total, deterministic, and manifest-auditable") {
    val docs = (0L until 500L).map(i => (i, 3L, s"fp$i")).toDF("id", "t", "f")
    val m = Shard.manifest(docs, "id", col("t"), col("f"), 16).collect()
    // every shard id in range, every doc accounted for exactly once
    assert(m.map(_.getInt(0)).toSet.subsetOf((0 until 16).toSet))
    assert(m.map(_.getLong(1)).sum == 500L)
    assert(m.map(_.getLong(2)).sum == 1500L)
    // the digest is the md5 of fingerprints in (fp, key) order — recompute
    // one shard by hand
    val shardOf = docs.select(col("id"),
      Shard.shardOf(col("id"), 16).as("s")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val s0 = (0L until 500L).filter(shardOf(_) == 0)
    val manual = s0.map(i => s"fp$i").sorted.mkString("")
    val md = java.security.MessageDigest.getInstance("MD5")
    val expectFp = md.digest(manual.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    assert(m.find(_.getInt(0) == 0).get.getString(3) == expectFp)
    // re-run is byte-identical (the audit property)
    val m2 = Shard.manifest(docs, "id", col("t"), col("f"), 16).collect()
    assert(m.map(_.toString).sorted.toSeq == m2.map(_.toString).sorted.toSeq)
  }

  // ---------------------------------------------------------------- Bloom

  test("bloom membership has no false negatives and in-range positions") {
    val elems = (0 until 2000).map(i => s"gram $i").toDF("e")
    val pos = elems.select(explode(Bloom.positionsArray(col("e"))).as("p"))
      .collect().map(_.getInt(0))
    assert(pos.forall(p => p >= 0 && p < Bloom.M))
    // build the bitset from half the elements; every member must probe in
    val memberBits = elems.filter(expr("CAST(substr(e, 6, 10) AS INT) % 2 = 0"))
      .select(explode(Bloom.positionsArray(col("e"))).as("p"))
      .distinct().collect().map(_.getInt(0)).toSet
    val memberProbe = elems.filter(expr("CAST(substr(e, 6, 10) AS INT) % 2 = 0"))
      .select(Bloom.positionsArray(col("e")).as("ps")).collect()
    assert(memberProbe.forall(_.getSeq[Int](0).forall(memberBits.contains)),
      "a bloom filter can never reject a member")
  }

  test("scan-local bitset probe == join-based probe on every element") {
    // probeBitset (the zero-join literal-bitset form q67/q70 run) must
    // flag exactly the rows the K-join reference form flags
    val elems = (0 until 2000).map(i => s"gram $i").toDF("e")
    val members = elems.filter(expr("CAST(substr(e, 6, 10) AS INT) % 2 = 0"))
    def flags(df: org.apache.spark.sql.DataFrame) = df
      .select("e", "_bloom").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    val viaJoin = flags(Bloom.probe(elems, "e", members))
    val viaBitset = flags(Bloom.probeBitset(elems, "e", members))
    assert(viaBitset == viaJoin)
    // no false negatives, and SOME false positive space is exercised
    val memberSet = members.collect().map(_.getString(0)).toSet
    assert(memberSet.forall(viaBitset(_)), "a member can never be rejected")
    assert(viaBitset.exists(!_._2), "some non-members must probe out")
  }

  // ------------------------------------------- centroids + double cosine

  test("groupCentroids averages element-wise, rounded to 6") {
    val emb = Seq(
      (1L, 0, Seq(1.0f, 0.0f, 2.0f)),
      (2L, 0, Seq(3.0f, 1.0f, 0.0f)),
      (3L, 1, Seq(-1.0f, -1.0f, -1.0f))).toDF("vec_id", "label", "embedding")
    val c = Similarity.groupCentroids(emb, "label").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(c(0) == Seq(2.0, 0.5, 1.0))
    assert(c(1) == Seq(-1.0, -1.0, -1.0))
  }

  test("DotCosine accepts double arrays and mixed float/double sides") {
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0, 2.0, 3.0)))
      .toDF("f", "d")
    val r = df.select(
      Similarity.cosine(col("f"), col("d")).as("fd"),
      Similarity.cosine(col("d"), col("d")).as("dd"),
      Similarity.cosine(col("f"), col("f")).as("ff")).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-15)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-15)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-15)
    // double arrays are read at full width: a perturbation below float's
    // resolution still shifts the similarity off exactly 1.0
    val eps = Seq((Seq(1.0, 1e-7), Seq(1.0, 0.0))).toDF("a", "b")
    val sim = eps.select(Similarity.cosine(col("a"), col("b"))).head().getDouble(0)
    assert(sim < 1.0)
  }

  // ------------------------------------------------------------ quantize

  test("QuantizeInt8 reconstructs within half a step; edge contracts hold") {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    import graft.sim.QuantizeInt8
    def q(vs: Seq[Float]) = Seq(Tuple1(vs)).toDF("v")
      .select(column(QuantizeInt8(expression(col("v")))).as("q"))
      .select("q.v_min", "q.v_max", "q.max_abs_err", "q.sum_sq_err",
        "q.codes").head()

    // exact endpoints: min -> 0, max -> 255, error bounded by scale/2
    val r = q(Seq(-1.0f, 0.0f, 1.0f))
    assert(r.getDouble(0) == -1.0 && r.getDouble(1) == 1.0)
    assert(r.getSeq[Int](4).head == 0 && r.getSeq[Int](4).last == 255)
    val scale = 2.0 / 255.0
    assert(r.getDouble(2) <= scale / 2 + 1e-12)
    // constant vector: scale 0, all codes 0, exact reconstruction
    val c = q(Seq(3.5f, 3.5f))
    assert(c.getSeq[Int](4) == Seq(0, 0))
    assert(c.getDouble(2) == 0.0 && c.getDouble(3) == 0.0)
    // empty vector: null metrics, empty codes
    val e = q(Seq.empty)
    assert(e.isNullAt(0) && e.isNullAt(2))
    assert(e.getSeq[Int](4).isEmpty)
    // null element nulls the struct
    val withNull = Seq(Tuple1(Seq(Some(1.0f), None)))
      .toDF("v")
      .select(column(QuantizeInt8(expression(col("v")))).as("q")).head()
    assert(withNull.isNullAt(0))
    // non-finite elements null the struct too: silently skipping NaN in
    // the min/max scan would fake a perfect max_abs_err (and diverge
    // from the oracle's list_min/list_max NaN semantics)
    for (bad <- Seq(Float.NaN, Float.PositiveInfinity,
        Float.NegativeInfinity)) {
      val r2 = Seq(Tuple1(Seq(1.0f, bad))).toDF("v")
        .select(column(QuantizeInt8(expression(col("v")))).as("q")).head()
      assert(r2.isNullAt(0), s"vector with $bad must quantize to null")
    }
  }

  test("quantized rerank recovers the exact float top-10 almost everywhere") {
    val d = "/root/testdata/sf0.01"
    val spark2 = spark
    import org.apache.spark.sql.functions.col
    val emb = spark2.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val qs = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val exact = Similarity.topK(qs, emb, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SparkEntry.queries("q72_quantized_rerank")(spark2, d)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // int8 over 64 dims loses little: the 20->10 rerank should recover
    // nearly all of the true neighbors
    assert(recall >= 0.9, s"recall@10 through int8 codes was $recall")
  }

  test("DotCosine still rejects non-floating arrays at analysis time") {
    val bad = Seq((Seq(1, 2), Seq(1, 2))).toDF("a", "b")
    val e = intercept[Exception] {
      bad.select(Similarity.cosine(col("a"), col("b"))).head()
    }
    assert(e.getMessage.contains("ARRAY<FLOAT>"))
  }
}
