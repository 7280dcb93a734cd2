package graft.tools

import org.apache.spark.sql.functions._
import graft.functions._

/** Hand-runnable demo of the public Column API over the driver testdata:
  *   sbt "runMain graft.tools.Demo [sfDir]"
  * Prints sample rows and the physical plan (whole-stage codegen check).
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Sessions.local()

    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val out = orders
      .select(
        col("o_orderkey"),
        col("o_orderdate").cast("date").as("d"),
        col("o_totalprice"))
      .withColumn("bdays_to_2024", bday_count(col("d"), lit("2024-01-02").cast("date")))
      .withColumn("bdays_reversed", bday_count(lit("2024-01-02").cast("date"), col("d")))
      .withColumn("settle_t2", bday_add(col("d"), lit(2)))
      .withColumn("is_bday", is_bday(col("d")))
      .withColumn("price_trunc2", truncate(col("o_totalprice"), 2))
      .withColumn("parsed", parse_date_br(lit("05-07-2024")))
      .orderBy("o_orderkey")
    out.show(8, truncate = false)
    out.explain("formatted")

    // null propagation through the custom expressions
    spark.sql("select 1").selectExpr("cast(null as date) as d")
      .select(bday_count(col("d"), lit("2024-01-02").cast("date")).as("null_in"),
              bday_add(col("d"), lit(1)).as("null_shift"))
      .show()

    // batch-five curation API: token-budget mixing, sharding manifests,
    // bloom positions, centroid-distance outliers
    import graft.ops.{Mix, Shard}
    import graft.text.TextOps
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val mixed = Mix.tokenBudgetMix(
      docs.select(col("doc_id"), col("source"),
        TextOps.tokenCountWs(col("text")).as("_t")),
      "doc_id", "source", col("_t"), lit(1L), 1L, 2L)
    mixed.orderBy("source", "rnk").show(5)
    mixed.explain("formatted")
    Shard.manifest(docs, "doc_id", TextOps.tokenCountWs(col("text")),
      TextOps.fingerprint(col("text")), 8).orderBy("shard_id").show(8)
    docs.select(col("doc_id"),
      graft.dedup.Bloom.positionsArray(TextOps.fingerprint(col("text")))
        .as("bloom_pos")).show(3, truncate = false)
    // stream-static ingestion ops work identically on batch frames —
    // drive the admission filter's anti-join shape here
    val corpusFps = docs.filter(col("doc_id") % 2 === 0)
      .select(TextOps.fingerprint(col("text")).as("fp")).distinct()
    val admitted = graft.streaming.EventStreams.admissionFilter(docs, corpusFps)
    println(s"[demo] admission filter passes ${admitted.count()} of ${docs.count()} docs")
    admitted.explain("formatted")

    // batch-eleven ops: exact prefix-filtered similarity join,
    // reconstructive passage dedup, BPE learning over the corpus vocab
    val pj = graft.dedup.DedupOps.prefixJaccardPairsPlan(
      docs.select(col("doc_id"), col("text")), "doc_id", "text", 0.5)
    pj.orderBy("id_a", "id_b").show(5)
    pj.explain("formatted")
    val rewritten = graft.dedup.DedupOps.passageDedupRewrite(
      docs.select(col("doc_id"), col("text")), "doc_id", "text", 4)
    rewritten.orderBy("doc_id").show(3, truncate = false)
    val (merges, _) = graft.text.Bpe.learn(docs, "text", 3)
    println(s"[demo] first BPE merges learned from the corpus: $merges")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cent = graft.sim.Similarity.groupCentroids(emb, "label")
    val sims = emb.join(broadcast(cent), Seq("label"))
      .select(col("vec_id"), col("label"),
        round(graft.sim.Similarity.cosine(col("embedding"), col("centroid")), 6)
          .as("sim_to_centroid"))
    sims.orderBy("vec_id").show(5)
    sims.explain("formatted")

    // DDSketch quantile aggregate via the Column bridge (the r7-broken
    // path): per-type p50/p90/p99 of event values, plus the stored-
    // artifact economics — persist per-source sketch-ready cents and a
    // parquet-backed words artifact via spark.graft.artifactDir
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val dd = events.groupBy(col("event_type"))
      .agg(graft.dedup.Dd.ddQuantile(
          floor(col("value") * 100).cast("long"), 0.50).as("p50_cents"),
        graft.dedup.Dd.ddQuantile(
          floor(col("value") * 100).cast("long"), 0.99).as("p99_cents"))
      .orderBy("event_type")
    dd.show(8)
    dd.explain("formatted")

    // r10 self-review fixes, driven live: the spread gate's row-group
    // probe (single-row-group testdata must keep its exchange) and the
    // width-keyed simhash pair artifact (store dir must carry the
    // adaptive width in its name)
    val spreadPlan = graft.queries.Tables.spread(spark, docs)
      .queryExecution.optimizedPlan.toString
    println(s"[demo] spread keeps the exchange on 1-row-group input: " +
      spreadPlan.contains("Repartition"))
    val storeTmp = java.nio.file.Files
      .createTempDirectory("demo-store").toFile.getAbsolutePath
    spark.conf.set(graft.queries.ArtifactStore.DirConf, s"file:$storeTmp")
    try {
      val pairs = graft.queries.ClusterMemo.simhashPairs(spark, sfDir)
      println(s"[demo] simhash pairs rows=${pairs.count()}")
      println("[demo] store artifact names: " +
        new java.io.File(storeTmp).listFiles().map(_.getName)
          .sorted.mkString(", "))
    } finally {
      spark.conf.unset(graft.queries.ArtifactStore.DirConf)
      graft.queries.Artifacts.clearProducedBy("q50_neardup_clusters")
      graft.queries.ArtifactStore.deleteTree(new java.io.File(storeTmp))
    }

    // r10 in-bucket verify, driven live: near-dup edges must ship gram
    // arrays per BAND (no per-pair gram join — the ×100 ladder's 117 GB
    // shuffle), so the verified-edge plan has NO join at all: one scan,
    // band explode, bucket aggregate, pair explode with the Jaccard
    // merge inline
    val edges = graft.dedup.DedupOps.nearDupEdges(
      docs.select(col("doc_id"), col("text")), "doc_id", "text", 0.5)
    println(s"[demo] near-dup verified edges rows=${edges.count()}")
    val edgePlan = edges.queryExecution.executedPlan.toString
    println("[demo] edge plan join-free (per-band array shipment): " +
      !(edgePlan.contains("SortMergeJoin") ||
        edgePlan.contains("ShuffledHashJoin") ||
        edgePlan.contains("BroadcastHashJoin")))
    println("[demo] exact Jaccard runs inline in the pair explode: " +
      ("sorted_arrays_jaccard".r.findAllIn(edgePlan).size == 1))
    val clusters = graft.dedup.DedupOps.nearDupClusters(
      docs.select(col("doc_id"), col("text")), "doc_id", "text", 0.5)
    clusters.orderBy(col("cluster_id").desc, col("doc_id")).show(6)
    spark.stop()
  }
}
