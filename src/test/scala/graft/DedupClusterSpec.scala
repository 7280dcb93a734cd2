package graft

import org.apache.spark.sql.functions._
import graft.dedup.DedupOps

/** Connected components and the near-dup clustering pipeline: synthetic
  * graph shapes (chain, cycle, separate components, isolated nodes)
  * against exact expectations, and the full pipeline on the sf0.001
  * documents fixture against a driver-side union-find over the same
  * verified edges.
  */
class DedupClusterSpec extends SparkSuite {
  test("connectedComponents: chain, cycle, isolated node (both paths)") {
    val sp = spark
    import sp.implicits._
    // chain 1-2-3-4; cycle 5-6-7; isolated 8; pair 9-10 (reversed edge)
    val nodes = (1L to 10L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L),
      (7L, 5L), (10L, 9L)).toDF("a", "b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 8L, 9L -> 9L, 10L -> 9L)
    // driver union-find fast path (7 edges <= cap)
    val ccFast = DedupOps.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ccFast == want)
    // distributed propagation loop (cap forced to 0)
    val ccLoop = DedupOps.connectedComponents(nodes, edges, driverCap = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ccLoop == want)
  }

  test("distributed loop converges fast on a long chain via pointer jumps") {
    val sp = spark
    import sp.implicits._
    // a 64-chain has diameter 63: plain min propagation needs 63 rounds,
    // the relax+double-jump loop must finish well inside 12
    val n = 64L
    val nodes = (1L to n).toDF("id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val cc = DedupOps
      .connectedComponents(nodes, edges, maxIter = 12, driverCap = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == (1L to n).map(_ -> 1L).toMap)
  }

  test("connectedComponents refuses to run past maxIter") {
    val sp = spark
    import sp.implicits._
    // a 6-chain needs >1 round; cap at 1 (and disable the driver fast
    // path, which has no iteration count) must throw
    val nodes = (1L to 6L).toDF("id")
    val edges = (1L to 5L).map(i => (i, i + 1)).toDF("a", "b")
    assertThrows[IllegalArgumentException] {
      DedupOps.connectedComponents(nodes, edges, maxIter = 1, driverCap = 0)
    }
  }

  test("nearDupClusters matches driver-side union-find on sf0.001") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))

    val got = DedupOps.nearDupClusters(docs, "doc_id", "text", threshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)

    // oracle: same candidate + verify stages, then union-find at driver
    val sig = DedupOps.withMinhashSignature(docs, "text", 5, 8).drop("text")
    val cand = DedupOps.lshCandidatePairs(sig, "doc_id", 8, 2)
    val edges = cand
      .join(docs.select(col("doc_id").as("id_a"), col("text").as("ta")), Seq("id_a"))
      .join(docs.select(col("doc_id").as("id_b"), col("text").as("tb")), Seq("id_b"))
      .filter(DedupOps.jaccardOfTexts(col("ta"), col("tb"), 3) >= 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val cluster = ids.map(i => i -> find(i)).toMap
    val sizes = cluster.values.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

    val want = ids.sorted.map(i =>
      (i, cluster(i), sizes(cluster(i)), i == cluster(i)))
    assert(got.toSeq == want.toSeq)
    // sanity: the fixture actually contains non-trivial clusters
    assert(got.exists(_._3 > 1), "expected at least one non-singleton cluster")
  }

  test("first-band-match emits each pair exactly once, no distinct needed") {
    val sp = spark
    import sp.implicits._
    // two near-identical docs agree on (at least) several MinHash
    // components, so they co-occur in MORE than one band bucket; the
    // first-match guard must still emit the verified edge exactly once
    // (the plan has no trailing distinct to hide a double emission),
    // and identical singletons must emit nothing.
    val t1 = "the quick brown fox jumps over the lazy dog again and again"
    val t2 = "the quick brown fox jumps over the lazy dog again and again!"
    val docs = Seq((1L, t1), (2L, t2), (3L, "completely unrelated words " +
      "about parquet shuffles and broadcast joins")).toDF("doc_id", "text")
    // precondition of the pin: the pair really does share >1 band
    val sig = DedupOps.withMinhashSignature(
      docs.filter(col("doc_id") <= 2), "text", 5, 8)
    val sigs = sig.orderBy("doc_id").collect()
      .map(r => (0 until 8).map(i => r.getAs[String](s"m$i")))
    val sharedBands = (0 until 4).count(b =>
      sigs(0)(2 * b) == sigs(1)(2 * b) && sigs(0)(2 * b + 1) == sigs(1)(2 * b + 1))
    assert(sharedBands > 1,
      s"fixture must collide in >1 band to exercise the guard (got $sharedBands)")
    val edges = DedupOps.nearDupEdges(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.toSeq == Seq((1L, 2L)),
      s"expected the near-dup edge exactly once, got ${edges.toSeq}")
  }

  test("scoredPairsPlan: no duplicate pairs; scores match per-pair recompute") {
    val d = "/root/testdata/sf0.001"
    val sp = spark
    import sp.implicits._
    val plan = graft.queries.ClusterMemo.scoredPairsPlan(sp, d)
    val rows = plan.collect()
    val keys = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.length == keys.distinct.length,
      "first-band-match must emit each candidate pair exactly once")
    // pair set == the sig-only candidate operator's (identical banding
    // params), and both scores equal a direct per-pair recompute
    val docs = sp.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), col("text"))
    val sig = DedupOps.withMinhashSignature(docs, "text",
      graft.queries.ClusterMemo.ShingleK, graft.queries.ClusterMemo.NumHashes)
    val cand = DedupOps.lshCandidatePairs(sig, "doc_id",
      graft.queries.ClusterMemo.NumHashes, graft.queries.ClusterMemo.RowsPerBand)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.toSet == cand.toSet,
      "scored pair set must equal the candidate operator's pair set")
    val scored = cand.toSeq.toDF("id_a", "id_b")
      .join(docs.select(col("doc_id").as("id_a"), col("text").as("_ta")), Seq("id_a"))
      .join(docs.select(col("doc_id").as("id_b"), col("text").as("_tb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(DedupOps.jaccardOfTexts(col("_ta"), col("_tb"),
          graft.queries.ClusterMemo.NGram), 6).as("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rows.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(r.getDouble(3) == scored(k),
        s"exact jaccard mismatch for $k: plan ${r.getDouble(3)} vs recompute ${scored(k)}")
    }
  }

  test("memoized clustering == direct nearDupClusters (q50/q63 reuse path)") {
    // q50/q63 read the session ClusterMemo (edges = threshold filter over
    // the shared scored-pair table) — the memoized composition must stay
    // row-identical to the direct operator it replaced.
    val d = "/root/testdata/sf0.001"
    graft.queries.Artifacts.clearProducedBy("q50_neardup_clusters")
    val direct = DedupOps.nearDupClusters(
      spark.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text")),
      "doc_id", "text", threshold = 0.5)
    val memo = graft.queries.ClusterMemo.clusters(spark, d, 0.5)
    assert(memo.count() == direct.count())
    assert(memo.exceptAll(direct).count() == 0 &&
      direct.exceptAll(memo).count() == 0)
    // second read must come from the cache: same frame instance
    assert(graft.queries.ClusterMemo.clusters(spark, d, 0.5) eq memo)
  }

  test("incremental fold == from-scratch clustering, incl. bridge merges") {
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), col("text"))
    // a LOW threshold makes the edge set dense, so batch docs routinely
    // bridge previously-separate corpus clusters — the quotient path's
    // hardest case (the driver gate already pins threshold 0.5)
    for (t <- Seq(0.2, 0.5)) {
      val isBatch = col("doc_id") % 10 === 0
      val corpus = docs.filter(!isBatch)
      val batch = docs.filter(isBatch)
      val oldLabels = DedupOps.nearDupClusters(corpus, "doc_id", "text", t)
        .select(col("doc_id"), col("cluster_id"))
      val inc = DedupOps.incrementalClusters(
        corpus, batch, oldLabels, "doc_id", "text", t)
      val full = DedupOps.nearDupClusters(docs, "doc_id", "text", t)
      assert(inc.exceptAll(full).count() == 0 &&
        full.exceptAll(inc).count() == 0,
        s"threshold $t: incremental must equal full recompute")
    }
  }

  test("factored simhash memo == direct Hamming-ball pairs (q43 r11 shape)") {
    // r11 pins the simhash family's two bounded FACTORS (sketch column,
    // sig-level ball pairs) and derives the doc-pair product per call —
    // the product must stay row-identical to the one-shot operator the
    // r10 memo pinned.
    val d = "/root/testdata/sf0.001"
    graft.queries.Artifacts.clearProducedBy("q50_neardup_clusters")
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), col("text"))
    val w = DedupOps.adaptiveSimhashWidth(docs.count())
    val dist = DedupOps.adaptiveSimhashDist(w)
    val sig = DedupOps.withSimhash(docs, "text", "simhash", w).drop("text")
    val direct = DedupOps.simhashHammingPairs(sig, "doc_id", "simhash",
      maxDist = dist, width = w)
    val memo = graft.queries.ClusterMemo.simhashPairs(spark, d)
    assert(memo.count() == direct.count())
    assert(memo.exceptAll(direct).count() == 0 &&
      direct.exceptAll(memo).count() == 0,
      "factored memo product must equal the direct ball-pair table")
  }

  test("sig-level simhash membership == pair-table membership (q136/q149)") {
    // dedupFlags' is_simhash now derives membership from the sig-level
    // artifacts (a doc is flagged iff its sig has a ≠-sig ball neighbor
    // present, or ≥ 2 docs share its sig) instead of scanning the
    // doc-pair product — the two derivations must agree on a corpus
    // with real collisions AND on a synthetic frame covering every
    // case: shared-sig duplicates, ≠-sig neighbors, isolated sigs.
    val sp = spark
    import sp.implicits._
    // synthetic sketch: sigs 0b0001/0b0010 are Hamming-2 neighbors;
    // docs 4,5 share an isolated-from-others sig; doc 6 fully isolated
    val sig = Seq((1L, 1), (2L, 2), (3L, 2), (4L, 56), (5L, 56),
      (6L, 999 << 4)).toDF("doc_id", "simhash")
    val sigPairs = DedupOps.simhashSigPairs(sig, "simhash",
      maxDist = 2, width = 16)
    val pairTable = DedupOps.simhashDocPairs(sig, "doc_id", "simhash",
      sigPairs)
    val fromPairs = pairTable
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct().collect().map(_.getLong(0)).toSet
    val nearSigs = sigPairs.filter(col("s1") =!= col("s2"))
      .select(col("s1").as("simhash")).distinct()
    val multiSigs = sig.groupBy(col("simhash"))
      .agg(count(lit(1)).as("_n")).filter(col("_n") > 1)
      .select(col("simhash"))
    val fromSigs = sig.join(
        nearSigs.unionByName(multiSigs).distinct(), Seq("simhash"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(fromPairs == Set(1L, 2L, 3L, 4L, 5L) && fromSigs == fromPairs,
      s"sig-level membership $fromSigs must equal pair membership $fromPairs")
    // and on the real sf0.001 corpus through the memoized path
    val d = "/root/testdata/sf0.001"
    graft.queries.Artifacts.clearProducedBy("q50_neardup_clusters")
    val memoPairs = graft.queries.ClusterMemo.simhashPairs(spark, d)
    val pairIds = memoPairs
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct().collect().map(_.getLong(0)).toSet
    val flagIds = graft.queries.Pipeline18.dedupFlags(spark, d)
      .filter(col("is_simhash") === 1L)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(flagIds == pairIds,
      "dedupFlags is_simhash must equal pair-table membership on sf0.001")
  }
}
