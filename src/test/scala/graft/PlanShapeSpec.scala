package graft

import org.apache.spark.sql.execution.SparkPlan

/** Plan-shape regression gates: the scale properties the engine claims
  * (no accidental cartesians, no per-query windows in top-k, partial
  * aggregation, pruned scans) must survive future edits, not just the
  * round they were built in. Asserted on the OPTIMIZED physical plans of
  * the declared driver queries at sf0.001.
  */
class PlanShapeSpec extends SparkSuite {
  private val d = "/root/testdata/sf0.001"

  private def plan(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan

  private def planString(name: String): String = plan(name).toString

  /** Subtree strings rooted at every plan line containing `marker`
    * (subtree = following lines with a deeper "+-"/":-" connector).
    */
  private def subtrees(p: String, marker: String): Seq[String] = {
    val ls = p.linesIterator.toVector
    def depth(l: String): Int = l.indexOf("- ")
    ls.indices.filter(i => ls(i).contains(marker)).map { i =>
      val body = ls.drop(i + 1).takeWhile(l => depth(l) > depth(ls(i)))
      (ls(i) +: body).mkString("\n")
    }
  }

  test("banded/ball dedup joins never nest-loop") {
    for (q <- Seq("q32_lsh_candidate_pairs", "q43_simhash_hamming_pairs",
        "q46_embedding_neardup")) {
      val p = planString(q)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"$q must build candidates from equi-joins only")
    }
  }

  test("embedding pair lineage (EmbMemo producer) is equi-joins only") {
    // q54/q69/q116 consume the memoized checkpoint, whose plan is an
    // ExistingRDD scan — the candidate SHAPE gate must target the
    // un-memoized producer lineage
    val p = graft.queries.EmbMemo
      .pairsPlan(spark, d).queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "embedding sketch-bucket candidate pairs must be equi-joins")
  }

  test("embedding clustering builds edges from equi-joins only") {
    val p = planString("q54_embedding_clusters")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "q54's sketch-bucket candidate pairs must be equi-joins")
  }

  test("linear-algebra loops never shuffle the corpus") {
    // q117 power iteration and q118 k-means: v/centroids ride 1-row
    // broadcasts (the BroadcastNestedLoopJoin IS the intended scalar
    // crossJoin shape — every probe row meets exactly one broadcast
    // row), and no corpus-sized hash/sort-merge exchange may appear
    for (q <- Seq("q117_pca_power", "q118_kmeans_lloyd")) {
      val p = planString(q)
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$q must not shuffle-join the corpus")
    }
  }

  test("trained-cell ANN probes via broadcast only") {
    val p = planString("q119_ann_trained_cells")
    assert(p.contains("BroadcastHashJoin"),
      "q119's cell probe must broadcast the query side")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "q119 must not shuffle the corpus for the probe")
  }

  test("batch-16 diagnostics keep their artifact-riding shapes") {
    // q121: every join in the triangle enumeration is an equi-join on a
    // node or pair key — a nested-loop/cartesian would be all-pairs
    val p121 = planString("q121_triangle_closure")
    assert(!p121.contains("BroadcastNestedLoopJoin") &&
      !p121.contains("CartesianProduct"),
      "q121 wedge/closing joins must be equi-joins")
    // q122: winnowing is scan-local array work over the words artifact —
    // no corpus re-scan and no per-position Window operator (q112's
    // shape is the contrast)
    val p122 = planString("q122_winnow_fingerprints")
    assert("Scan parquet".r.findAllIn(p122).isEmpty,
      "q122 must ride the words artifact, not re-scan the corpus")
    assert(!p122.contains("Window"),
      "q122 winnow selection must be in-row, not a positions window")
    // q123: one pruned scan; the HLL registers partial-aggregate
    // map-side (the mergeable-sketch contract)
    val p123 = planString("q123_hll_distinct")
    assert("Scan parquet".r.findAllIn(p123).size == 1, "q123 scans once")
    assert(p123.contains("partial_hll_distinct"),
      "q123's HLL must partial-aggregate map-side")
    assert(p123.contains("ReadSchema: struct<user_id:bigint,event_type:string>"),
      "q123's scan must prune to the two used columns")
    // q124: rides the words artifact; the rank window partitions by
    // lang (vocab-bounded), never a single global sort of the vocab
    val p124 = planString("q124_zipf_slope")
    assert("Scan parquet".r.findAllIn(p124).isEmpty,
      "q124 must ride the words artifact")
    assert(!p124.contains("Exchange SinglePartition, ENSURE"),
      "q124 must not funnel the vocab through one partition")
    // q126: the health dashboard composes four diagnostic branches, and
    // ALL of them now ride session artifacts (words/winnowStats/
    // contamStats) — a parquet scan here means a branch regressed to
    // re-deriving what the stores hold
    val p126 = planString("q126_source_health")
    assert("Scan parquet".r.findAllIn(p126).isEmpty,
      "q126's branches must ride the session artifacts")
    // the KL branch's <=1-row totals broadcast is the one sanctioned
    // nested-loop (scalar plumbing); a true cartesian is still banned
    assert(!p126.contains("CartesianProduct"))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p126).size <= 1,
      "only the scalar totals may nested-loop")
  }

  test("batch-18/19 diagnostics keep their artifact-riding shapes") {
    // q134: repetition is a per-doc property — the plan must say so:
    // rides the words artifact (no corpus scan), no Join, and the only
    // exchange is the output sort (the gram folds are all in-row)
    val p134 = planString("q134_repetition_metrics")
    assert("Scan parquet".r.findAllIn(p134).isEmpty,
      "q134 must ride the words artifact, not re-scan the corpus")
    assert(!p134.contains("Join"), "q134 must not join")
    assert("Exchange".r.findAllIn(p134).size <= 1,
      "q134's only exchange is the output sort")
    // q136: every verdict family rides a session artifact — the only
    // corpus reads are the doc-id spine and the fingerprint pass
    val p136 = planString("q136_dedup_agreement")
    assert(!p136.contains("CartesianProduct") &&
      !p136.contains("BroadcastNestedLoopJoin"),
      "q136 joins stay equi-joins")
    // q138: both aggregations ride the words/leak artifacts
    val p138 = planString("q138_source_diversity")
    assert("Scan parquet".r.findAllIn(p138).isEmpty,
      "q138 must ride the words/leak artifacts")
    // q141: moments ride a broadcast back onto the checkpointed hourly
    // table — the corpus is scanned once
    val p141 = planString("q141_hourly_bursts")
    assert(p141.contains("BroadcastHashJoin") || p141.contains("BroadcastExchange"),
      "q141's moment table must broadcast")
  }

  test("batch-23 bootstrap/sweep queries keep their single-scan shapes") {
    // q154: every branch rides the checkpointed quality scan — the
    // regex pass must appear in NO branch of the final plan
    val p154 = planString("q154_bootstrap_ci")
    assert(!p154.contains("documents.parquet"),
      "q154 must ride its checkpointed quality scan")
    // q156: signatures only for ground-truth docs — the corpus text
    // reaches MinHashSig through one semi-join-restricted scan
    // (the semi-join that restricts the signature scan executes at
    // build time behind the checkpoint, so the final plan shows the
    // pinned artifact, not the join — the scan bound is the gate)
    val p156 = planString("q156_minhash_width_sweep")
    assert("Scan parquet".r.findAllIn(p156).size <= 1,
      "q156 computes signatures in one restricted pass")
    // q158: two pruned event scans (replica leg + point leg), no
    // cartesian anywhere
    val p158 = planString("q158_value_ci")
    assert("Scan parquet".r.findAllIn(p158).size <= 2,
      "q158 is the two-leg bootstrap")
    assert(!p158.contains("CartesianProduct"))
  }

  test("decontamination probes eval grams via broadcast, never a shuffle join") {
    // q80 serves the memoized contamStats artifact, whose plan is an
    // ExistingRDD — the probe SHAPE gate targets the un-memoized
    // producer lineage (the EmbMemo.pairsPlan pattern)
    val producer = graft.queries.GramMemo
      .contamStatsPlan(spark, d).queryExecution.executedPlan.toString
    val probes = Seq("q56_decontaminate" -> planString("q56_decontaminate"),
      "contamStatsPlan" -> producer,
      "q125_contamination_attribution" ->
        planString("q125_contamination_attribution"))
    for ((q, p) <- probes) {
      assert(p.contains("BroadcastHashJoin"),
        s"$q's eval gram set must broadcast")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$q must not shuffle corpus grams for the probe")
    }
  }

  test("semantic dedup pairs come from the bucket equi-join only") {
    val p = planString("q78_semantic_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "q78's within-bucket pairs must come from an equi-join on the bucket")
  }

  test("passage dedup shuffles 16-byte keys, not passage strings") {
    // the dup-set join and both aggregates key on md5(passage); the only
    // acceptable KEYED exchange payloads are (pk[, doc_id]) rows — a
    // plan that hash-exchanges a `passage`/text column re-shuffles the
    // corpus text. (The one round-robin exchange that does carry text is
    // the deliberate single-file scan spread — unnecessary at real scan
    // widths, see the q31 note — and is excluded here by matching
    // hashpartitioning only.)
    val p = planString("q79_passage_dedup")
    for (st <- subtrees(p, "Exchange hashpartitioning"))
      assert(!st.linesIterator.next().contains("text"),
        "q79 must not hash-shuffle raw text/passages — key on md5 hashes")
  }

  test("top-k queries use the bounded aggregate, not a per-query window") {
    for (q <- Seq("q35_cosine_topk", "q36_ann_ivf_label",
        "q55_source_quota")) {
      val p = planString(q)
      assert(!p.contains("Window"), s"$q must not rank via a window")
      assert(p.contains("topk_by_score"),
        s"$q must aggregate via TopKByScore")
    }
  }

  test("scan-local feature queries stay single-scan with pruned schema") {
    for ((q, cols) <- Seq(
        "q33_simhash" -> "struct<doc_id:bigint,text:string>",
        "q47_multimodal_bytehist" -> "struct<doc_id:bigint,text:string>")) {
      val p = planString(q)
      assert("Scan parquet".r.findAllIn(p).size == 1, s"$q must scan once")
      assert(p.contains(cols), s"$q must prune the scan to $cols")
      assert(!p.contains("Join"), s"$q must not join")
    }
  }

  test("bpe apply broadcasts the trained vocab onto the words artifact") {
    // q169 must never fold merges over word instances: the corpus side
    // is the pinned words artifact, the trained vocab broadcasts, and
    // the only hash exchange is the per-doc aggregate
    val p = planString("q169_bpe_tokenize")
    assert(!p.contains("Scan parquet"),
      "q169 rides the words + trained-vocab artifacts, no corpus scan")
    assert(p.contains("BroadcastHashJoin"),
      "the trained vocab must broadcast onto the exploded words")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "q169 must not shuffle-join the corpus against the vocab")
  }

  test("q28 two-level distinct counts: no Expand, equals countDistinct") {
    // r12 (guide §2.2): the three multi-key count-distincts run as one
    // dedup-then-count chain per key set — the Expand(3×) that tripled
    // every lineitem row into a single exchange must not come back
    val p = planString("q28_distinct_counts")
    assert(!p.contains("Expand"),
      "q28 must use the two-level distinct-agg shape, not Expand(3×)")
    // equivalence pin: row-identical to the single-agg countDistinct
    // reference on real data (countDistinct's NULL-skipping semantics
    // are mirrored by the isNotNull guards in the split)
    import org.apache.spark.sql.functions._
    val ref = graft.queries.Tables.lineitem(spark, d)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey"), col("l_partkey")).as("n_supp_part"))
      .orderBy(col("l_returnflag"))
      .collect().map(_.toString)
    val got = SparkEntry.queries("q28_distinct_counts")(spark, d)
      .collect().map(_.toString)
    assert(got.sameElements(ref), "q28 split diverged from countDistinct")
  }

  test("q28 keeps groups whose keys of one branch are all NULL") {
    // countDistinct reports 0 for such a group (and keeps the NULL flag
    // as a group); a branch that drops the group must not drop its row
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val tmp = java.nio.file.Files.createTempDirectory("graft-q28").toFile
    try {
      val schema = StructType(Seq("l_returnflag" -> StringType,
        "l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType).map { case (n, t) => StructField(n, t) })
      val rows = Seq[(String, java.lang.Long, java.lang.Long, java.lang.Long)](
        ("A", 1L, 10L, 100L), ("A", 2L, 10L, 101L), ("A", 2L, 11L, 101L),
        ("N", null, 12L, 102L), ("N", null, 13L, null),
        ("R", 3L, null, null), ("R", 4L, null, 103L),
        (null, 5L, 14L, 104L))
        .map { case (f, o, p, s) => org.apache.spark.sql.Row(f, o, p, s) }
      spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
        .write.parquet(s"$tmp/lineitem.parquet")
      val d0 = tmp.getAbsolutePath
      val ref = graft.queries.Tables.lineitem(spark, d0)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey"), col("l_partkey")).as("n_supp_part"))
        .orderBy(col("l_returnflag"))
        .collect().map(_.toString)
      val got = SparkEntry.queries("q28_distinct_counts")(spark, d0)
        .collect().map(_.toString)
      assert(ref.length == 4)
      assert(got.sameElements(ref),
        s"q28 ${got.mkString(" ")} != countDistinct ${ref.mkString(" ")}")
    } finally graft.queries.ArtifactStore.deleteTree(tmp)
  }

  test("filter pushdown reaches the parquet scan") {
    val p = planString("q02_filter_project")
    assert(p.contains("PushedFilters") &&
      p.contains("GreaterThanOrEqual(l_shipdate"),
      "q02's ship-date filter must be pushed to the scan")
  }

  test("dimension joins broadcast; fact side never broadcasts") {
    val p = planString("q03_join_agg")
    assert(p.contains("BroadcastHashJoin"),
      "q03 dims must broadcast-hash-join")
    assert(!p.contains("CartesianProduct"))
  }

  test("stratified sample is a shuffle-free scan-stage filter") {
    // the whole point of keyed threshold sampling: the subset emerges in
    // the scan stage itself, shuffle-free at any corpus size (the gate
    // plan has exactly the output sort's exchange and nothing else)
    val p = plan("q51_stratified_sample")
    val exchanges = p.toString.linesIterator
      .filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"q51 may only exchange for its output sort, got:\n${exchanges.mkString("\n")}")
  }

  test("sequence packing shuffles once per stage boundary, no join") {
    val p = planString("q52_sequence_packing")
    assert(!p.contains("Join"), "q52 must not join")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      "q52 is one window partition + one aggregation shuffle at most")
  }

  test("vocab stats bound their output without a global sort") {
    val p = planString("q53_vocab_stats")
    assert(p.contains("TakeOrderedAndProject"),
      "q53's top-20 must be TakeOrdered, not sort+limit stages")
    // q53 rides the session words artifact (GramMemo): the corpus text
    // is never re-scanned — the plan reads the checkpoint once
    assert("Scan parquet".r.findAllIn(p).isEmpty,
      "q53 must read the words artifact, not re-scan the corpus")
    assert("Scan ExistingRDD".r.findAllIn(p).size == 1,
      "q53 must read the memoized words checkpoint exactly once")
  }

  test("PII scrub and chunking stay scan-local (no shuffle before output sort)") {
    for (q <- Seq("q58_pii_scrub", "q59_chunk_overlap")) {
      val p = planString(q)
      assert(!p.contains("Join"), s"$q must not join")
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q is per-row work; only the output sort may exchange")
      assert("Scan parquet".r.findAllIn(p).size == 1, s"$q must scan once")
    }
  }

  test("minhash estimation computes each expensive expression once") {
    // q61 itself now reads the ClusterMemo checkpoint (shared with
    // q50/q63), so the lineage gate runs on the UN-memoized plan the
    // memo materializes — that is where a regression would reintroduce
    // a second MinHash pass or per-reference Jaccard.
    val p = graft.queries.ClusterMemo.scoredPairsPlan(spark, d)
      .queryExecution.executedPlan.toString
    assert("minhash_sig".r.findAllIn(p).size == 1,
      "q61 must run the MinHash pass once (signatures ride the band lists)")
    assert("sorted_arrays_jaccard".r.findAllIn(p).size == 1,
      "q61 must evaluate the exact Jaccard once per pair")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("token profile aggregates a histogram, never buffers group rows") {
    val p = planString("q62_token_profile")
    assert(!p.contains("percentile"),
      "q62 must not use the row-buffering percentile aggregate")
    // histogram path: value-level partial aggregation before the shuffle
    assert(p.contains("partial_count") || p.contains("partial count") ||
      "HashAggregate".r.findAllIn(p).size >= 2,
      "q62's (group,value) count must pre-aggregate map-side")
  }

  test("token-budget mix broadcasts its totals and shuffles only by group") {
    val p = planString("q64_token_budget_mix")
    // the two-row totals frame rides a broadcast; the corpus itself only
    // exchanges for the per-group window and the totals aggregate
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "q64 must never shuffle-join the corpus against its totals")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      "q64 is one window partition + the totals aggregate at most")
  }

  test("shard manifest rides the feature artifact: no corpus scan, one shuffle") {
    // the manifest writer consumes the stored ingestion-time features
    // (FeatureMemo) — a parquet scan here would re-run the token/
    // fingerprint passes the artifact exists to store
    val p = planString("q65_shard_manifest")
    assert(!p.contains("Join"), "q65 must not join")
    assert(!p.contains("Scan parquet"),
      "q65 must read the pinned feature artifact, not re-scan the corpus")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "q65 shuffles exactly once (the shard groupBy)")
  }

  test("bloom prescan is scan-local: one exact join, zero probe joins") {
    val p = planString("q67_bloom_decontaminate")
    // the bitset probe lives inside the corpus scan as a literal-array
    // bit test; the ONLY join left is the exact eval-gram accounting join
    assert("BroadcastHashJoin".r.findAllIn(p).size == 1,
      "q67 keeps exactly the exact-gram broadcast join — bit-position " +
        "probe joins would re-scan the corpus stream")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "q67 must not shuffle corpus grams for the probe")
  }

  test("centroid outliers broadcast the centroid table and fuse the cosine") {
    val p = planString("q68_centroid_outlier")
    assert(p.contains("BroadcastHashJoin"),
      "q68's per-label centroids must broadcast")
    assert(p.contains("dot_cosine"),
      "q68 must use the native DotCosine pass")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("curation decision composes signals without cartesians; probes broadcast") {
    val p = planString("q70_curation_decision")
    assert(p.contains("BroadcastHashJoin"),
      "q70's bloom bits and centroid table must broadcast")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "q70 must merge doc-level frames on equi-keys only")
  }

  test("quantized rerank ranks codes via the bounded aggregate") {
    val p = planString("q72_quantized_rerank")
    assert(p.contains("quantize_int8"),
      "stage 1 must scan reconstructed int8 codes")
    assert(p.contains("topk_by_score"),
      "stage 1 must rank via TopKByScore, not a per-query window funnel")
  }

  test("int8 quantization is one scan-local pass") {
    val p = planString("q71_quantize_int8")
    assert("Scan parquet".r.findAllIn(p).size == 1, "q71 must scan once")
    assert(!p.contains("Join"), "q71 must not join")
    assert(p.contains("quantize_int8"),
      "q71 must run the native quantization expression")
  }

  test("leakage-safe split builds its edges from equi-joins only") {
    val p = planString("q69_leakage_safe_split")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "q69's cluster edges must come from sketch equi-joins")
  }

  test("blocklist tagging stays scan-local") {
    val p = planString("q73_blocklist_tag")
    assert(!p.contains("Join"), "q73 must not join")
    assert("Scan parquet".r.findAllIn(p).size == 1, "q73 must scan once")
    assert(!p.contains("Exchange hashpartitioning"),
      "q73 is per-row membership; only the output sort may exchange")
  }

  test("co-occurrence counts bound their output without a global sort") {
    val p = planString("q74_cooccurrence")
    assert(p.contains("TakeOrderedAndProject"),
      "q74's top-30 must be TakeOrdered, not sort+limit stages")
    // one pass over the corpus: either the parquet scan or the memoized
    // words-artifact checkpoint, never both
    assert("Scan parquet".r.findAllIn(p).size +
      "Scan ExistingRDD".r.findAllIn(p).size == 1, "q74 must scan once")
    assert(!p.contains("Join"), "q74 builds pairs scan-locally, no self-join")
  }

  test("curation funnel aggregates every stage from conditional counts") {
    val p = planString("q75_curation_funnel")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    assert("Scan parquet".r.findAllIn(p).size <= 2,
      "q75 is the feature scan + the dedup-survivor self-join, nothing more")
  }

  test("incremental dedup: no scan ever sits under a BroadcastExchange") {
    // The r5 defect: the exact layer broadcast the CORPUS fp set — the
    // unbounded side — and the old "some BroadcastHashJoin exists" gate
    // could not catch the direction. With auto-broadcast disabled, every
    // BroadcastExchange left in the plan is an explicit hint, and after
    // the fix every hinted side is a materialized batch-bounded
    // checkpoint (dup fps <= batch via the left_semi probe; batch band
    // keys via Broadcasts.bounded) — so NO parquet scan, corpus or
    // otherwise, may appear under a broadcast: the corpus is only ever
    // probed inside its own scan.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val p = planString("q76_incremental_dedup")
      assert(p.contains("BroadcastExchange"),
        "q76 must keep its batch-side broadcast fast path")
      for (st <- subtrees(p, "BroadcastExchange"))
        assert(!st.contains("Scan parquet"),
          s"a scan sits under a BroadcastExchange — unbounded-side " +
            s"broadcast:\n$st")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        "q76 candidates come from band equi-joins only")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("incremental clustering fold never re-reads a corpus document") {
    // q108's production contract: with the stored artifacts in hand
    // (yesterday's labels + the corpus band index — session memos here,
    // populated by the call itself), the marginal fold touches ONLY the
    // batch and the index. The batch is featurized and checkpointed
    // inside incrementalClustersFromIndex (the one source scan, at call
    // time), so the fold plan proper must be parquet-scan-FREE: every
    // leaf is a checkpoint block — corpus documents are never re-read,
    // re-grammed or re-hashed to admit a batch.
    val p = planString("q108_incremental_clusters")
    assert(!p.contains("Scan parquet"),
      s"q108's fold plan re-reads a source table — the corpus must be " +
        s"reached only through the stored band-index/label artifacts:\n$p")
  }

  test("correlated sampling filters both scans before the join") {
    val p = planString("q77_correlated_sample_join")
    // the rate predicate must evaluate in each side's scan stage — a
    // post-join sample would ship 25x the rows through the shuffle
    assert(!p.contains("CartesianProduct"))
    val joinIdx = p.indexOf("Join")
    assert(joinIdx >= 0)
    // tree printing puts operators ABOVE the join before it in the
    // string; no md5 there means no post-join sampling filter
    assert(!p.substring(0, joinIdx).contains("md5"),
      "q77's sampling md5 predicates must sit below the join, not above it")
    assert("md5".r.findAllIn(p).size >= 2,
      "both scan sides must carry their sampling predicate")
  }

  test("curation pipeline rides the feature artifact, one shuffle, no join") {
    val p = planString("q48_curation_pipeline")
    assert(!p.contains("Scan parquet"),
      "q48 must read the pinned feature artifact, not re-scan the corpus")
    assert(!p.contains("Join"), "q48 must not join back")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      "q48 must shuffle once (the dedup groupBy)")
  }

  test("edit-distance verify pins the DP's parallelism explicitly") {
    // the gated pair list is byte-tiny but CPU-heavy; AQE coalesces
    // post-shuffle partitions by BYTES and serialized the Levenshtein
    // stage onto one core (measured 5x) — the explicit pair-keyed
    // repartition is exempt from coalescing and must survive edits
    // the declared query checkpoints the DP verdicts before its output
    // sort (orderBy's sampling job would re-run the DP), so the gate
    // targets the un-checkpointed lineage
    val p = graft.queries.Pipeline7.editDistPlan(spark, d)
      .queryExecution.executedPlan.toString
    assert(p.contains("REPARTITION_BY_NUM"),
      "q81 must repartition the gated pairs with an explicit count")
    assert(p.contains("levenshtein"), "q81 must verify via Levenshtein")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    assert(planString("q81_editdist_neardup").contains("Scan ExistingRDD"),
      "the declared q81 must sort the materialized verdicts")
  }

  test("cluster consumers read the memo, not the lineage") {
    // q82/q83 are observability/selection passes over q50's clustering;
    // with the memo warm their plans must read the checkpointed labels
    // (an RDD scan), never re-run MinHash — a 100 TB pipeline does not
    // recompute a clustering to read its manifest
    graft.queries.ClusterMemo.clusters(spark, d, threshold = 0.5).count()
    for (q <- Seq("q82_cluster_histogram", "q83_cluster_best_rep")) {
      val p = planString(q)
      assert(!p.contains("minhash_sig"),
        s"$q must not recompute signatures when the memo is warm")
      assert(p.contains("Scan ExistingRDD"),
        s"$q must read the memoized clustering checkpoint")
    }
  }

  test("cluster best-rep takes its argmax as an aggregate, not a window") {
    val p = planString("q83_cluster_best_rep")
    assert(!p.contains("Window"),
      "q83's per-cluster argmax must be max(struct), not a ranking window")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("hard negatives never broadcast and rank via the bounded aggregate") {
    // BOTH sides of q84's candidate join are the corpus — with the
    // size-based auto-broadcast off, any BroadcastExchange left in the
    // plan would be an explicit corpus-side hint (the q76 defect class)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val p = planString("q84_hard_negatives")
      assert(!p.contains("BroadcastExchange"),
        "q84 must not broadcast either corpus side of the bucket join")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        "q84 candidates come from the bucket equi-join only")
      assert(p.contains("topk_by_score") && !p.contains("Window"),
        "q84 must rank via TopKByScore, not a per-anchor window")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("containment keys its shuffles on 16-byte gram hashes, not grams") {
    // df counting and the candidate join key on md5(gram); an exchange
    // KEYED on the raw gram re-shuffles corpus text (the q79 rule —
    // id-keyed exchanges may carry gram ARRAYS to the verify join, which
    // is the house gram-join pattern, so only the keys are gated)
    val p = planString("q86_containment_pairs")
    for (st <- subtrees(p, "Exchange hashpartitioning"))
      assert(!st.linesIterator.next().contains("_gram"),
        "q86 must not hash-shuffle raw grams — key on md5 hashes")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("trigram LM scoring is one scan-local pass, no join, no tri rows") {
    // the bounded model rides the TrigramLmScore expression as driver
    // arrays, so scoring is a pure projection: no per-trigram explode
    // rows, no model join of any kind, one corpus scan — the only
    // exchange is the output sort (a shuffle keyed on the raw trigram
    // would move O(corpus chars) rows at 100 TB)
    val p = planString("q87_trigram_lm_score")
    assert(p.contains("trigram_lm_score"),
      "q87 must score via the native TrigramLmScore expression")
    assert(!p.contains("Join"), "q87 must not join (model is in-row)")
    assert(!p.contains("Generate"), "q87 must not explode trigram rows")
    assert("Scan parquet".r.findAllIn(p).size == 1, "q87 must scan once")
    assert(!p.contains("Exchange hashpartitioning"),
      "q87's only exchange is the output range sort")
  }

  test("interval attribution joins on (user, bucket), never a nested loop") {
    // the naive plan — equi-join on user_id with the 12h range as a
    // post-join FILTER over the full per-user history — is quadratic in
    // a power user's event count; the bucketed form keys the join on
    // (user_id, _bkt) so candidate cells are window-bounded
    val p = planString("q89_event_attribution")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "q89 must not build per-user cross products")
    val joins = subtrees(p, "Join").map(_.linesIterator.next()) ++
      p.linesIterator.filter(l => l.contains("HashJoin") ||
        l.contains("SortMergeJoin"))
    assert(joins.exists(_.contains("_bkt")),
      "q89's candidate join must be keyed on the time bucket")
  }

  test("snapshot diff joins 16-byte fingerprints, never document text") {
    // the full outer join must see only (id, fp) projections: text is
    // fingerprinted in the scan stage and pruned before any exchange
    val p = planString("q90_snapshot_diff")
    assert(p.contains("FullOuter"), "q90 must be a full outer join")
    // both sides ride the stored feature fingerprints; the ONLY corpus
    // scan left is the 1-in-11 rewritten-doc branch, whose text is
    // consumed by the scan-stage md5 — no exchange may be keyed on text
    assert("Scan parquet".r.findAllIn(p).size == 1,
      "q90 re-reads text only for the rewritten snapshot rows")
    for (st <- subtrees(p, "Exchange hashpartitioning")) {
      val exchangeLine = st.linesIterator.next()
      assert(!exchangeLine.contains("text#"),
        "q90 must not key an exchange on document text")
    }
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("prefix join shuffles gram hashes, never gram text") {
    // df counting (count window), the posting-list aggregation and the
    // verify probes all key on the 16-byte md5 (the q79/q86 rule); the
    // raw gram string must never ride an exchange. Gated on the
    // UN-materialized lineage (the ClusterMemo.scoredPairsPlan pattern
    // — the production op's localCheckpoint would hide the upstream
    // exchanges from the plan).
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val p = graft.dedup.DedupOps
      .prefixJaccardPairsPlan(docs, "doc_id", "text", 0.5)
      .queryExecution.executedPlan.toString
    for (st <- subtrees(p, "Exchange hashpartitioning"))
      assert(!st.linesIterator.next().contains("_gram"),
        "q94 must not hash-shuffle raw grams — key on md5 hashes")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("passage rewrite keeps text out of the hash-keyed shuffles") {
    // keeper election and kept-position grouping ride narrow (pk, id,
    // pos) rows; the document text joins back on doc_id exactly once
    val p = planString("q95_passage_rewrite")
    for (st <- subtrees(p, "Exchange hashpartitioning(_pk")) {
      // the exchanged ROW is the immediate child's output; computing
      // hashes FROM text inside the subtree (scan-side Generate) is fine
      val childLine = st.linesIterator.drop(1).take(1).mkString
      assert(!childLine.contains("text#"),
        "q95 keeper election must not carry the document text")
    }
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("DSIR and CMS broadcast their bounded models into the scan") {
    // q96's 4096-bucket ratio table and q97's 3x4096 sketch counters
    // are bounded by construction — a shuffle join keyed on the bucket
    // would re-shuffle O(corpus tokens) rows
    for (q <- Seq("q96_dsir_weights", "q97_cms_term_counts")) {
      val p = planString(q)
      for (m <- Seq("SortMergeJoin", "ShuffledHashJoin");
           st <- subtrees(p, m))
        assert(!st.linesIterator.next().matches(".*\\bb[0-9]?#.*"),
          s"$q token-side join must broadcast the bounded table, got $m")
      assert(!p.contains("CartesianProduct"))
    }
    // q97's counter probes are bucket-keyed broadcast hash joins
    assert(planString("q97_cms_term_counts").contains("BroadcastHashJoin"),
      "q97: sketch counters must broadcast")
    // q96's model is ONE row joined on a constant key — Catalyst folds
    // that to a BroadcastNestedLoopJoin over an identity broadcast (the
    // q87 LM shape), and scoring is a scan-local fold: no doc-keyed
    // aggregation shuffle anywhere (rangepartitioning output sort is
    // fine)
    val p96 = planString("q96_dsir_weights")
    assert(p96.contains("BroadcastExchange"), "q96: model must broadcast")
    assert(!p96.contains("Exchange hashpartitioning(doc_id"),
      "q96 scoring must not shuffle on doc_id")
  }

  test("JSON props parse stays native and pruned") {
    // from_json with an explicit schema is a codegen'd expression in
    // the scan — never a UDF — and the parquet read prunes to the two
    // used columns (no sampling-based inference pass, no full-row read)
    val p = planString("q102_json_props_agg")
    assert(p.contains("from_json") && !p.contains("BatchEvalPython"))
    for (st <- subtrees(p, "FileScan"))
      assert(!st.linesIterator.next().contains("event_type#"),
        "q102 scan must prune unused event columns")
  }

  test("weighted sample ranks via the k-heap, never a global window") {
    // a row_number window funnels every doc through one task; the
    // bounded TopKByScore aggregate forwards <= k rows per map task
    val p = planString("q105_weighted_sample")
    assert(p.contains("topk_by_score") && !p.contains("Window"),
      "q105 must rank via TopKByScore")
  }

  test("cohorts and funnel stay window-free on narrow keys") {
    // q98/q99 are user-keyed min-aggregates + equi joins; an ordered
    // per-user history window would sort every power user's history
    for (q <- Seq("q98_retention_cohorts", "q99_event_funnel")) {
      val p = planString(q)
      assert(!p.contains("Window") && !p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q plan shape")
    }
  }

  test("NB classifier broadcasts the model; BM25 ranks via the k-heap") {
    // q92's vocab-bounded model and q93's per-term stats must ride
    // broadcasts into the token scan — a shuffle join keyed on the raw
    // word re-shuffles O(corpus tokens) rows; q93's global top-20 must
    // be the bounded aggregate, never a Window over all doc scores
    val p92 = planString("q92_nb_lang_confusion")
    for (m <- Seq("SortMergeJoin", "ShuffledHashJoin");
         st <- subtrees(p92, m))
      assert(!st.linesIterator.next().contains("w#"),
        s"q92 scoring join must broadcast the model, got $m on w")
    val p93 = planString("q93_bm25_topk")
    assert(p93.contains("topk_by_score") && !p93.contains("Window"),
      "q93 must rank via TopKByScore, not a global window")
  }

  test("temperature mixing never shuffles the fact side") {
    // derived per-source thresholds are a handful of rows: they ride a
    // broadcast back onto the scan; the only exchanges allowed are the
    // tiny count aggregation's and the final presentation sort
    val p = planString("q88_temperature_mix")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "q88's threshold join must be broadcast")
    assert(p.contains("BroadcastHashJoin"))
    for (st <- subtrees(p, "Exchange hashpartitioning"))
      assert(!st.linesIterator.next().contains("doc_id"),
        "q88 must not hash-shuffle the fact table")
  }

  test("rrf fusion bounds both legs with the k-heap before any window") {
    // each retrieval leg must compress its corpus scan into the bounded
    // TopKByScore aggregate; the only Window allowed is the final rank
    // over the fused ≤2k-row list (which sits ABOVE the full-outer join
    // of the two bounded legs, never under a corpus scan)
    val p = planString("q109_rrf_fusion")
    assert("topk_by_score".r.findAllIn(p).size >= 2,
      "both legs must rank via TopKByScore")
    for (st <- subtrees(p, "Window"))
      assert(st.contains("FullOuter"),
        "the only window must rank the bounded fused list (above the " +
          "full-outer join of the two k-heap legs), not raw corpus rows")
    // the semantic leg broadcasts the single query vector
    assert(p.contains("BroadcastNestedLoopJoin Cross") ||
      p.contains("BroadcastExchange"),
      "the query vector must ride a broadcast")
  }

  test("quality gate rides the feature artifact, no join, histogram windows") {
    // the quantile pass must run over the per-(source, score) histogram
    // — the stored feature table feeding windows partitioned on source,
    // with no self-join back against the corpus and no corpus re-scan
    val p = planString("q110_quality_gate")
    assert(!p.contains("Scan parquet"),
      "q110 must read the pinned feature artifact, not re-scan the corpus")
    assert(!p.contains("Join"), "q110 must not join")
  }

  test("batch 17: one checkpointed pass each; small sides broadcast; " +
    "no corpus-width windows after the histogram") {
    // q131/q132/q133 each materialize ONE source pass (histogram / lead
    // window / scored docs) via localCheckpoint and derive everything
    // downstream from it: the executed plans must contain no parquet
    // scan at all (a scan here = a second pass the checkpoint exists to
    // prevent)
    for (q <- Seq("q131_ddsketch_quantiles", "q132_event_paths",
        "q133_curriculum_phases")) {
      val p = planString(q)
      assert(!p.contains("Scan parquet"),
        s"$q must read only its checkpointed single pass")
      assert(!p.contains("CartesianProduct"), s"$q plan shape")
    }
    // q132's pair/single tables (≤|types|² rows) ride broadcasts onto
    // the triples — a shuffle join would re-exchange the triple table
    // once per enrichment
    val p132 = planString("q132_event_paths")
    assert(!p132.contains("SortMergeJoin") &&
      !p132.contains("ShuffledHashJoin"),
      "q132 enrichment joins must broadcast the bounded count tables")
    // q133's thresholds are ONE row riding a broadcast back into the
    // doc pass; the only window sorts the bounded score histogram
    val p133 = planString("q133_curriculum_phases")
    assert(p133.contains("BroadcastNestedLoopJoin Cross") ||
      p133.contains("BroadcastExchange"),
      "q133 thresholds must ride a broadcast")
    assert(!p133.contains("SortMergeJoin"),
      "q133 must not shuffle docs against thresholds")
  }

  test("batch 24/25: bounded sides broadcast, no shuffled doc-vs-scalar joins") {
    // q159: the bitset probe is scan-local (a literal array) and
    // eval/corpus membership rides per-gram flags from one fused
    // aggregate (r12 — the exact-hit join is gone); the only joins
    // left are the two 1-row stat frames — nothing may sort-merge
    // corpus-sized gram streams
    val p159 = planString("q159_bloom_fpr_audit")
    assert(!p159.contains("SortMergeJoin"),
      "q159 joins are broadcast-only (eval set + 1-row stats)")
    // q160: |labels| centroids broadcast against the corpus; the
    // deliberate cross join is against the bounded centroid frame
    val p160 = planString("q160_label_silhouette")
    assert(!p160.contains("CartesianProduct"),
      "q160 centroids ride a broadcast, never a cartesian")
    assert(!p160.contains("SortMergeJoin"),
      "q160 must not shuffle vectors against centroids")
    // q161: the |types|-row clip bounds ride a broadcast back over the
    // event scan — a shuffle join would exchange the event stream twice
    val p161 = planString("q161_winsorized_values")
    assert(!p161.contains("SortMergeJoin") &&
      !p161.contains("ShuffledHashJoin"),
      "q161 clip bounds must broadcast")
    // q162: two 1-row medians ride broadcasts into one pass over the
    // checkpointed score table
    val p162 = planString("q162_filter_kappa")
    assert(!p162.contains("SortMergeJoin"),
      "q162 medians must broadcast")
    // q163: top-k is a bounded TakeOrdered, never a global doc sort
    val p163 = planString("q163_vocab_drift")
    assert(p163.contains("TakeOrderedAndProject"),
      "q163 top-k must be a bounded TakeOrdered")
    // q164: one user-keyed aggregate, anchor rides a 1-row broadcast,
    // top-100 is bounded
    val p164 = planString("q164_decayed_engagement")
    assert(p164.contains("TakeOrderedAndProject"),
      "q164 top-100 must be a bounded TakeOrdered")
    assert(!p164.contains("SortMergeJoin"),
      "q164 anchor must broadcast")
    // q166: one pass over the bounded pair artifact; four bounded
    // config rows — no join at all beyond the artifact read
    val p166 = planString("q166_lsh_tuning_curve")
    assert(!p166.contains("SortMergeJoin") &&
      !p166.contains("Scan parquet"),
      "q166 rides the memoized pair artifact in one pass")
  }

  test("spread gates its exchange on observed scan parallelism") {
    // the sandbox's single-row-group files scan as ONE task and NEED
    // the round-robin exchange; a production multi-file corpus already
    // scans wide and the same exchange is a corpus-bytes shuffle that
    // buys nothing — Tables.spread must keep the first and skip the
    // second (judge directive r9-#4)
    val tmp = java.nio.file.Files.createTempDirectory("spreadgate").toFile
    try {
      graft.queries.Tables.documents(spark, d).repartition(8)
        .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
      try {
        // production-scan-width stand-in: make the 8 small files plan
        // as >= 2 scan partitions instead of bin-packing into one
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
        spark.conf.set("spark.sql.files.openCostInBytes", "16384")
        val wide = spark.read.parquet(tmp.getAbsolutePath)
        assert(wide.rdd.getNumPartitions >= 2,
          "precondition: the multi-file input must plan a parallel scan")
        val p = graft.queries.Tables.spread(spark, wide)
          .queryExecution.optimizedPlan.toString
        assert(!p.contains("Repartition"),
          "spread must not exchange an already-parallel scan")
      } finally {
        spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
        spark.conf.unset("spark.sql.files.openCostInBytes")
      }
      // the driver testdata itself: one row group, one task — the
      // exchange must stay (and with it every board plan downstream)
      val narrow = graft.queries.Tables.documents(spark, d)
      assert(narrow.rdd.getNumPartitions < 2, "precondition: single task")
      val p2 = graft.queries.Tables.spread(spark, narrow)
        .queryExecution.optimizedPlan.toString
      assert(p2.contains("Repartition"),
        "spread must still unlock the single-row-group scan")
    } finally graft.queries.ArtifactStore.deleteTree(tmp)
  }

  test("spread sees through byte-range splits to row-bearing tasks") {
    // a LARGE single-row-group file defeats a planned-partition gate:
    // Spark plans ~file/maxSplitBytes byte-range splits, but parquet
    // assigns a row group to the one split containing its start
    // offset, so every row lands in ONE task and the compute-amplified
    // pass runs serially with no error — spread must confirm the plan
    // against actual row groups and keep the exchange
    val tmp = java.nio.file.Files.createTempDirectory("spreadrg").toFile
    try {
      val oneRg = s"${tmp.getAbsolutePath}/one_rg"
      graft.queries.Tables.documents(spark, d).coalesce(1)
        .write.mode("overwrite").parquet(oneRg)
      val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
      try {
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        val planned = spark.read.parquet(oneRg)
        assert(planned.rdd.getNumPartitions >= 2,
          "precondition: the single file must PLAN as a parallel scan")
        val p = graft.queries.Tables.spread(spark, planned)
          .queryExecution.optimizedPlan.toString
        assert(p.contains("Repartition"),
          "spread must not trust byte-range splits over row groups")

        // the converse: one FILE, many ROW GROUPS — genuinely parallel,
        // the exchange must be skipped on row-group evidence
        val manyRg = s"${tmp.getAbsolutePath}/many_rg"
        graft.queries.Tables.documents(spark, d).coalesce(1)
          .write.mode("overwrite")
          .option("parquet.block.size", "1024")
          .option("parquet.page.size.row.check.min", "10")
          .parquet(manyRg)
        val multi = spark.read.parquet(manyRg)
        val cores = spark.sparkContext.defaultParallelism
        assert(multi.rdd.getNumPartitions >= (cores + 1) / 2,
          "precondition: the multi-row-group file must plan wide")
        val p2 = graft.queries.Tables.spread(spark, multi)
          .queryExecution.optimizedPlan.toString
        assert(!p2.contains("Repartition"),
          "spread must pass a genuinely row-group-parallel scan through")
      } finally {
        spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
        spark.conf.unset("spark.sql.files.openCostInBytes")
      }
    } finally graft.queries.ArtifactStore.deleteTree(tmp)
  }
}
