package graft

import org.apache.spark.sql.functions._
import graft.ops.Salt

/** Scale-mechanics evidence: salted aggregation equals the plain groupBy
  * on skewed data, bucketed tables join without an Exchange, the LSH
  * bucket cap fails loudly, approximate scale-path twins track their
  * exact operators, token-budget mixing stays exact under source skew,
  * and shard manifests are invariant to physical input layout.
  */
class ScaleSpec extends SparkSuite {
  test("salted aggregation == plain groupBy on a skewed key") {
    import spark.implicits._
    // 90% of rows share one key — the classic hot-key shape
    val skewed = spark.range(100000)
      .select(when(col("id") % 10 === 0, concat(lit("k"), col("id") % 7))
        .otherwise(lit("HOT")).as("k"),
        (col("id") % 1000).cast("double").as("v"))

    val plain = skewed.groupBy("k")
      .agg(sum("v").as("total"), count("v").as("n"))
    val salted = Salt.saltedAgg(skewed, Seq("k"),
      Seq(("v", "sum", "total"), ("v", "count", "n")))

    assert(plain.count() == salted.count())
    assert(plain.exceptAll(salted).count() == 0 &&
      salted.exceptAll(plain).count() == 0)
  }

  test("token-budget mix stays exact under a 90%-skewed source") {
    import spark.implicits._
    import graft.ops.Mix
    // one domain holds 90% of the corpus — the web-crawl shape domain
    // mixing exists to correct. Budgets must stay BIGINT-exact and each
    // group's kept tokens must stop within one straddling doc of its
    // slice regardless of group size imbalance.
    val rows = (0L until 10000L)
      .map(i => (i, if (i % 10 == 0) s"small${i % 3}" else "big", 5L))
      .toDF("id", "g", "t")
    val kept = Mix.tokenBudgetMix(rows, "id", "g", col("t"), lit(1L), 1L, 2L)
      .select("g", "n_tokens", "budget").collect()
    val byG = kept.groupBy(_.getString(0))
    // total=50000, sumw=4 -> per-group budget 6250
    assert(kept.forall(_.getLong(2) == 6250L))
    // greedy fill: kept tokens < budget + one straddler (5)
    for ((g, rs) <- byG) {
      val toks = rs.map(_.getLong(1)).sum
      assert(toks <= 6250L + 5L, s"group $g overfilled: $toks")
    }
    // the big group is capped at its slice; small groups keep everything
    // they have (3334 docs * 5 < 6250 never holds -> small groups also
    // fill, with ~334 docs each)
    assert(byG("big").length == 1250)
  }

  test("shard manifest digests are invariant to input partitioning") {
    import spark.implicits._
    import graft.ops.Shard
    val docs = (0L until 5000L).map(i => (i, 2L, s"f$i")).toDF("id", "t", "f")
    def digest(df: org.apache.spark.sql.DataFrame) =
      Shard.manifest(df, "id", col("t"), col("f"), 8)
        .collect().map(_.toString).sorted.toSeq
    // the audit property at scale: a different physical layout (here a
    // 13-way random repartition) must produce byte-identical manifests
    assert(digest(docs) == digest(docs.repartition(13)))
  }

  test("LSH bucket cap fails loudly on a pathological band") {
    import graft.dedup.DedupOps
    // 50 exact copies of one text: every band bucket holds all 50 ids —
    // exactly the input the exact-dedup precondition exists to forbid
    val dup = spark.range(50).select(col("id").as("doc_id"),
      lit("same text everywhere for every doc").as("text"))
    val sig = DedupOps.withMinhashSignature(dup, "text", 5, 8).drop("text")
    val e = intercept[Exception] {
      DedupOps.lshCandidatePairs(sig, "doc_id", 8, 2, maxBucket = 10).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(m =>
      m.contains("maxBucket") && m.contains("EXACT dedup")),
      s"expected loud bucket-cap failure, got: ${messages(e).mkString(" | ")}")
    // under the default cap the same input still computes (50^2 pairs)
    assert(DedupOps.lshCandidatePairs(sig, "doc_id", 8, 2).count() == 50L * 49 / 2)
  }

  test("bounded broadcast falls back to a shuffle join over the row cap") {
    import graft.ops.Broadcasts
    val dim = spark.range(1000).select(col("id").as("k"))
    val fact = spark.range(5000)
      .select((col("id") % 1000).as("k"), col("id").as("v"))
    // auto-broadcast off: any BroadcastHashJoin left is the hint's doing
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val over = fact.join(
        Broadcasts.bounded(dim, maxRows = 10, what = "scale-spec dim"),
        Seq("k"))
      assert(!over.queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin"),
        "over the cap the broadcast hint must be dropped (shuffle fallback)")
      assert(over.count() == 5000, "the fallback must stay correct")
      val under = fact.join(Broadcasts.bounded(dim, maxRows = 1000), Seq("k"))
      assert(under.queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin"),
        "under the cap the broadcast fast path must engage")
      assert(under.count() == 5000)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("bucketed tables join with zero shuffle (co-located join)") {
    // tables land in the default ./spark-warehouse (gitignored); a fresh
    // in-memory catalog doesn't know leftover locations from earlier runs,
    // so clear them on disk too
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    for (t <- Seq("li_b", "o_b")) {
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists())
        scala.reflect.io.Directory(dir).deleteRecursively()
    }
    spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("o_b")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_b")
        .join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      // bucketing pre-partitions both sides: no Exchange under the join
      assert(!plan.contains("Exchange"),
        s"expected shuffle-free co-located join, got:\n$plan")
      assert(joined.count() ==
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").count())
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("dedup bounds hold on a near-dup-dense corpus 10x sf0.1") {
    import graft.dedup.DedupOps
    // 50k docs (sf0.1 documents = 5k): a 10,500-copy EXACT-duplicate
    // class (the input the exact-dedup precondition forbids, just past
    // the 10k bucket cap) plus 3,950 near-dup families of 10. Family
    // words are md5-derived per (family, position) — a first draft used
    // small mod-prime suffix pools and the tiny shingle vocabulary made
    // LSH band keys collide ACROSS families, exploding the candidate
    // set; pseudorandom words keep buckets family-sized, which is also
    // the realistic shape (real corpora don't share one template). Each
    // member differs in one trailing token: within-family word-3-gram
    // Jaccard ≈ 10/12, comfortably over the 0.5 threshold; cross-family
    // ≈ 0.
    val DupClass = 10500L
    val f = ((col("id") - DupClass) / 10).cast("long")
    val family = concat_ws(" ",
      (0 until 12).map(i =>
        substring(md5(to_binary(
          concat(f.cast("string"), lit(s"_w$i")), lit("utf-8"))), 1, 8)) :+
      concat(lit("tok"), pmod(col("id"), lit(10))): _*)
    val docs = spark.range(50000).select(col("id").as("doc_id"),
      when(col("id") < DupClass,
        lit("identical duplicate text block for the bucket cap test"))
        .otherwise(family).as("text"))

    // (b) WITHOUT exact dedup the 10,500-wide band bucket must fail
    // loudly under the default cap — its m^2 pair output is
    // uncomputable anyway
    val sigAll = DedupOps.withMinhashSignature(docs, "text", 5, 8)
      .drop("text")
    val e = intercept[Exception] {
      DedupOps.lshCandidatePairs(sigAll, "doc_id", 8, 2).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(m =>
      m.contains("maxBucket") && m.contains("EXACT dedup")))

    // (a) AFTER exact dedup the full clustering completes under the
    // default caps and recovers the family structure
    val keep = DedupOps.exactDedup(docs, "text", "doc_id")
      .select(col("keep_id").as("doc_id"))
    val survivors = docs.join(keep, Seq("doc_id"), "left_semi")
    val nSurvivors = survivors.count()
    assert(nSurvivors == 39501L) // 3,950 families x 10 + 1 dup survivor
    val clusters = DedupOps.nearDupClusters(survivors, "doc_id", "text",
      threshold = 0.5)
    val fullFamilies = clusters.filter(col("is_rep") &&
      col("n_members") === 10).count()
    assert(clusters.count() == nSurvivors)
    assert(fullFamilies >= 3600,
      s"expected most families to cluster whole, got $fullFamilies")

    // q76's near-layer machinery at the same scale: index the corpus
    // (variants 0..8), probe the arriving tenth variant — every probe
    // doc has 9 near members in its family
    val corpus = survivors.filter(col("doc_id") % 10 =!= 9)
    val batch = survivors.filter(col("doc_id") % 10 === 9)
    val probed = DedupOps.probeBandIndex(batch,
      DedupOps.bandIndex(corpus, "doc_id", "text"),
      "doc_id", "text", threshold = 0.5)
    val hits = probed.filter(col("n_near") >= 1).count()
    val nBatch = batch.count()
    assert(hits >= (nBatch * 9) / 10,
      s"expected most of $nBatch probes to find near members, got $hits")

    // incremental index maintenance == full rebuild, exactly (the loop
    // a continuous pipeline runs instead of re-scanning the corpus)
    val merged = DedupOps.mergeBandIndex(
      DedupOps.bandIndex(corpus, "doc_id", "text"), batch,
      "doc_id", "text")
    val rebuilt = DedupOps.bandIndex(survivors, "doc_id", "text")
    assert(merged.exceptAll(rebuilt).count() == 0 &&
      rebuilt.exceptAll(merged).count() == 0,
      "mergeBandIndex(bandIndex(a), b) must equal bandIndex(a ++ b)")

    // (c) shard manifests stay file-sized: 64 shards over 50k docs stay
    // within 2x of the mean — corpus growth grows nShards, never the
    // per-shard member list
    val m = graft.ops.Shard
      .manifest(docs, "doc_id", lit(1L), md5(col("text")), 64)
      .select(col("n_docs")).collect().map(_.getLong(0))
    assert(m.sum == 50000L && m.length == 64)
    assert(m.max <= 2 * (50000 / 64),
      s"largest shard ${m.max} docs is not file-sized")
  }

  test("passage dedup recovers family structure at 10x sf0.1") {
    import graft.dedup.DedupOps
    // 3,950 families x 10 near-dup docs (12 shared md5-derived words +
    // a per-member trailing token) + 1,000 fully-unique docs. 13 words
    // -> 4 non-overlapping 4-word passages: a family member's first 3
    // passages repeat in all 10 members (cross-doc dup), and its
    // single-word tail passage "tokN" repeats across ALL families — so
    // family docs are 100% boilerplate while unique docs are 0%.
    val f = (col("id") / 10).cast("long")
    val family = concat_ws(" ",
      (0 until 12).map(i =>
        substring(md5(to_binary(
          concat(f.cast("string"), lit(s"_w$i")), lit("utf-8"))), 1, 8)) :+
      concat(lit("tok"), pmod(col("id"), lit(10))): _*)
    val unique = concat_ws(" ",
      (0 until 13).map(i =>
        substring(md5(to_binary(
          concat(col("id").cast("string"), lit(s"_u$i")), lit("utf-8"))),
          1, 8)): _*)
    val docs = spark.range(40500).select(col("id").as("doc_id"),
      when(col("id") < 39500, family).otherwise(unique).as("text"))

    val stats = DedupOps.passageDupStats(docs, "doc_id", "text", 4)
    assert(stats.count() == 40500L)
    assert(stats.filter(col("n_passages") =!= 4).count() == 0)
    val famWrong = stats.filter(col("doc_id") < 39500 &&
      col("n_dup_passages") =!= 4).count()
    assert(famWrong == 0, s"$famWrong family docs not fully boilerplate")
    val uniqWrong = stats.filter(col("doc_id") >= 39500 &&
      col("n_dup_passages") =!= 0).count()
    assert(uniqWrong == 0, s"$uniqWrong unique docs falsely flagged")
  }

  test("passage rewrite keeps one global survivor per passage at 10x") {
    import graft.dedup.DedupOps
    // same family corpus as the stats test: within a family the first
    // member claims the 3 shared passages; the 10 one-word tail
    // passages "tokN" are claimed once GLOBALLY (by docs 0..9); unique
    // docs keep everything
    val f = (col("id") / 10).cast("long")
    val family = concat_ws(" ",
      (0 until 12).map(i =>
        substring(md5(to_binary(
          concat(f.cast("string"), lit(s"_w$i")), lit("utf-8"))), 1, 8)) :+
      concat(lit("tok"), pmod(col("id"), lit(10))): _*)
    val unique = concat_ws(" ",
      (0 until 13).map(i =>
        substring(md5(to_binary(
          concat(col("id").cast("string"), lit(s"_u$i")), lit("utf-8"))),
          1, 8)): _*)
    val docs = spark.range(40500).select(col("id").as("doc_id"),
      when(col("id") < 39500, family).otherwise(unique).as("text"))

    val out = DedupOps.passageDedupRewrite(docs, "doc_id", "text", 4)
      .localCheckpoint()
    // unique docs survive whole: their normalized text IS the rebuild
    assert(out.filter(col("doc_id") >= 39500 &&
      (col("n_kept") =!= 4 || length(col("clean_text")) === 0)).count() == 0)
    // family leaders (beyond family 0) keep exactly their 3 shared
    // passages; followers are fully boilerplate and survive empty
    assert(out.filter(col("doc_id") >= 10 && col("doc_id") < 39500 &&
      pmod(col("doc_id"), lit(10)) === 0 && col("n_kept") =!= 3)
      .count() == 0)
    assert(out.filter(col("doc_id") >= 10 && col("doc_id") < 39500 &&
      pmod(col("doc_id"), lit(10)) =!= 0 &&
      (col("n_kept") =!= 0 || col("clean_text") =!= "")).count() == 0)
    // global invariant: total survivors == distinct passages
    // (3,950 x 3 family + 10 tok tails + 1,000 x 4 unique)
    assert(out.agg(sum(col("n_kept"))).head().getLong(0) == 15860L)
  }

  test("prefix join stays complete at 10x; the posting cap fails loudly") {
    import graft.dedup.DedupOps
    // family corpus: members share 10 of their (up to) 11 word-3-grams
    // -> within-family Jaccard 10/12 >= 0.5, cross-family ~0, so the
    // complete pair set is known analytically: C(10,2) per family
    val f = (col("id") / 10).cast("long")
    val family = concat_ws(" ",
      (0 until 12).map(i =>
        substring(md5(to_binary(
          concat(f.cast("string"), lit(s"_w$i")), lit("utf-8"))), 1, 8)) :+
      concat(lit("tok"), pmod(col("id"), lit(10))): _*)
    val docs = spark.range(20000).select(col("id").as("doc_id"),
      family.as("text"))
    val pairs = DedupOps.prefixJaccardPairs(docs, "doc_id", "text", 0.5)
      .localCheckpoint()
    assert(pairs.count() == 2000L * 45,
      "every within-family pair found, nothing else")
    assert(pairs.filter(col("jaccard") =!= round(lit(10.0 / 12), 6))
      .count() == 0)
    // a doc whose ENTIRE gram set is one shared gram puts that gram in
    // every copy's prefix: the posting list must hit the cap loudly
    val dup = spark.range(50).select(col("id").as("doc_id"),
      lit("same same same").as("text"))
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    val e = intercept[Exception] {
      DedupOps.prefixJaccardPairs(dup, "doc_id", "text", 0.5,
        maxBucket = 10).count()
    }
    assert(messages(e).exists(_.contains("maxBucket")),
      "cap must name the override knob")
  }

  test("semantic-dedup bucket cap fails loudly on a one-bucket corpus") {
    import graft.sim.Similarity
    val vec = typedlit((0 until 64).map(i => (i + 1).toFloat))
    // 5,000 identical vectors land in ONE sketch bucket — past the
    // default 4,096 cap the m^2 pair stage must fail loudly, not OOM
    val dense = spark.range(5000)
      .select(col("id").as("vec_id"), vec.as("embedding"))
    // reference a close-side column: a bare count() lets Catalyst
    // eliminate the left join (unique-key right side, no refs) and the
    // capped subtree would never run
    val e = intercept[Exception] {
      Similarity.semanticDedup(dense, threshold = 0.2)
        .filter(col("keep")).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(m =>
      m.contains("semantic-dedup bucket") && m.contains("granularity")))

    // under the cap the dense bucket resolves deterministically: every
    // vector beyond the smallest id has all lower ids at cosine 1, so
    // exactly one survivor and n_close(i) = i
    val small = spark.range(100)
      .select(col("id").as("vec_id"), vec.as("embedding"))
    val out = Similarity.semanticDedup(small, threshold = 0.2)
    assert(out.filter(col("keep")).count() == 1L)
    assert(out.filter(col("n_close") =!= col("vec_id")).count() == 0)
  }

  test("containment finds subset dups Jaccard misses; the df cap kills boilerplate fan-out") {
    import graft.dedup.DedupOps
    // 10,000 families: a 100-word base doc + a "quote" doc = its first 20
    // words (3-gram Jaccard vs base ~ 0.17 — below the 0.5 clustering
    // threshold, so MinHash-LSH dedup never nominates the pair) — plus
    // 20,000 IDENTICAL boilerplate docs whose grams all have df=20,000:
    // without the df cap those grams alone would fan out ~2x10^8
    // candidate pairs; with it they produce ZERO (identical docs are the
    // exact-dedup layer's job, not containment's).
    val fam = (col("id") % 10000).cast("long")
    def w(i: org.apache.spark.sql.Column) = substring(md5(to_binary(
      concat(fam.cast("string"), lit("_"), i.cast("string")), lit("utf-8"))),
      1, 8)
    val base = concat_ws(" ", (0 until 100).map(i => w(lit(i))): _*)
    val quote = concat_ws(" ", (0 until 20).map(i => w(lit(i))): _*)
    val docs = spark.range(40000).select(col("id").as("doc_id"),
      when(col("id") < 10000, base)
        .when(col("id") < 20000, quote)
        .otherwise(lit("all aboard the boilerplate express " * 10))
        .as("text"))

    val pairs = DedupOps.containmentPairs(docs, "doc_id", "text", n = 8)
      .localCheckpoint()
    // exactly the (base, quote) pairs: quotes' 13 8-grams all sit in the
    // matching base and nowhere else (df=2 -> every one is a candidate
    // key), so containment = 13/13 = 1.0; no cross-family or
    // boilerplate pair survives the df window
    assert(pairs.count() == 10000L)
    assert(pairs.filter(col("id_b") =!= col("id_a") + 10000).count() == 0)
    assert(pairs.filter(col("containment") =!= 1.0).count() == 0)
    assert(pairs.filter(col("n_common") =!= 13).count() == 0)
  }

  test("hard negatives stay bounded and deterministic on a dense bucket") {
    import graft.sim.Similarity
    // 4,000 identical vectors (one sketch bucket, ~8M streamed pairs)
    // with two labels: the k-heap consumes the m^2 pair stream map-side,
    // and with every cosine = 1.0 ties break on vec_id — each anchor's
    // negatives are exactly the 3 lowest ids of the OTHER label
    val vec = typedlit((0 until 64).map(i => (i + 1).toFloat))
    val emb = spark.range(4000).select(col("id").as("vec_id"),
      (col("id") % 2).cast("int").as("label"), vec.as("embedding"))
    val out = Similarity.hardNegatives(emb, k = 3).localCheckpoint()
    assert(out.count() == 4000L * 3)
    assert(out.filter(col("sim") =!= 1.0).count() == 0)
    // anchor of label 0 -> negatives {1, 3, 5}; label 1 -> {0, 2, 4}
    val bad = out.filter(
      col("vec_id") =!= (lit(1) - pmod(col("q_id"), lit(2)))
        + (col("rnk") - 1) * 2).count()
    assert(bad == 0, s"$bad negative rows deviate from the deterministic top-3")
  }

  test("approximate scale-path twins track the exact operators") {
    // The oracle-gated queries use EXACT forms (engine-portable values);
    // at 100 TB the drop-in production variants are the sketch
    // aggregates: HLL++ for distinct counts (q53's doc_freq, q28) and
    // KLL/GK quantiles for token profiles (q62). Pin that the approx
    // twins stay within their documented error on real corpus data, so
    // the swap is a one-line change with known loss, not a leap.
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val toks = docs.select(col("source"),
      graft.text.TextOps.tokenCountWs(col("text")).as("n_tokens"))

    val exactD = docs.select(countDistinct(col("text")).cast("double"))
      .head().getDouble(0)
    val approxD = docs.select(approx_count_distinct(col("text"), rsd = 0.02)
      .cast("double")).head().getDouble(0)
    assert(math.abs(approxD - exactD) / exactD <= 0.06,
      s"HLL(rsd=0.02) off by ${math.abs(approxD - exactD) / exactD}")

    val exact = graft.ops.Percentiles
      .exactByHistogram(toks, "source", "n_tokens", Seq("p90" -> 0.9))
      .select(col("source"), col("p90"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val approx = toks.groupBy(col("source"))
      .agg(expr("approx_percentile(n_tokens, 0.9, 1000)").as("p90a"))
      .collect().map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    exact.foreach { case (src, p90) =>
      // approx_percentile(acc=1000) returns a true sample value within
      // 1/1000 rank error; token distributions are smooth enough that
      // 10% value tolerance is conservative
      assert(math.abs(approx(src) - p90) <= math.max(0.1 * p90, 2.0),
        s"$src: approx ${approx(src)} vs exact $p90")
    }
  }

  test("batch-13 selection ops stay bounded on a 50k-doc corpus") {
    import java.nio.file.Files
    import graft.text.TextOps
    val dir = Files.createTempDirectory("scale_p13").toString
    // md5-derived word salad with word lengths 4-8: hex words contain
    // digits (non-alpha), so the alpha ratio — and with it the quality
    // score — spreads per doc; every 1000th doc also carries the three
    // BM25 query terms so the lexical retrieval leg is non-degenerate
    val salad = concat_ws(" ", (0 until 12).map(i =>
      substring(md5(to_binary(concat(col("id").cast("string"),
        lit(s"_w$i")), lit("utf-8"))), 1, (i % 5) + 4)): _*)
    val text = when(pmod(col("id"), lit(1000)) === 0,
      concat(salad, lit(" spark window merge"))).otherwise(salad)
    spark.range(50000).select(col("id").as("doc_id"), text.as("text"),
        lit("en").as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.range(50000).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          (pmod(hash(col("id"), j), lit(1000)) / 1000.0).cast("float"))
          .as("embedding"),
        lit(0).as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // the gate's claim: the quantile pass touches only the per-(source,
    // rounded-score) histogram — verify it is orders of magnitude under
    // the corpus on this 10x-sf0.1 draw
    val hist = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"),
        round(TextOps.qualityScore(col("text")), 6).as("qs"))
      .distinct().count()
    assert(hist < 5000, s"histogram must stay far under 50k docs: $hist")
    val gate = SparkEntry.queries("q110_quality_gate")(spark, dir).collect()
    assert(gate.length == 20, "one row per source")
    gate.foreach { r =>
      assert(r.getLong(2) == 2500L, "per-source totals")
      assert(r.getLong(3) >= 1L && r.getLong(3) <= r.getLong(2))
    }

    // the fusion's claim: output stays exactly top-N with leg ranks
    // bounded by the k-heap regardless of corpus size
    val fused = SparkEntry.queries("q109_rrf_fusion")(spark, dir).collect()
    assert(fused.length == 20, "fused output is the bounded top-20")
    assert(fused.forall(r => r.getLong(4) >= 1L && r.getLong(4) <= 20L))
    assert(fused.forall(r => (r.isNullAt(1) || r.getLong(1) <= 50L) &&
      (r.isNullAt(2) || r.getLong(2) <= 50L)),
      "leg ranks must come from the bounded top-50 heaps")
  }

  test("batch-15 corpus-stat ops stay bounded on 50k docs / 100k nodes") {
    import java.nio.file.Files
    import graft.queries.Pipeline15
    val dir = Files.createTempDirectory("scale_p15").toString
    val salad = concat_ws(" ", (0 until 12).map(i =>
      substring(md5(to_binary(concat(col("id").cast("string"),
        lit(s"_w$i")), lit("utf-8"))), 1, (i % 5) + 4)): _*)
    spark.range(50000).select(col("id").as("doc_id"), salad.as("text"),
        concat(lit("l"), pmod(col("id"), lit(4))).as("lang"),
        lit("src").as("source"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.range(50000).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          (pmod(hash(col("id"), j), lit(1000)) / 1000.0).cast("float"))
          .as("embedding"),
        lit(0).as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // q114's claim: output is the bounded top-k and every survivor meets
    // the support floor — on a salad corpus whose adjacent bigrams are
    // md5-unique, nothing may fake support
    val pmi = SparkEntry.queries("q114_pmi_collocations")(spark, dir)
      .collect()
    assert(pmi.length <= 30)
    assert(pmi.forall(_.getLong(2) >= 20L))

    // q115's claim: the window touches VOCAB rows, and the breakpoints
    // are monotone with v99 <= vocab_size on every language
    val cov = SparkEntry.queries("q115_vocab_coverage")(spark, dir)
      .collect()
    assert(cov.length == 4, "one row per language")
    cov.foreach { r =>
      assert(r.getLong(1) == 12L * 12500L, "12 words x 12.5k docs per lang")
      val (vs, v50, v90, v99) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(v50 <= v90 && v90 <= v99 && v99 <= vs)
    }

    // q116's operator claim, isolated from edge generation: on a 100k-node
    // ring (every degree exactly 2) the uniform distribution is the exact
    // fixed point at ANY size — 5 edge-join iterations must return it
    val n = 100000L
    val nodes = spark.range(n).select(col("id"))
    val ring = spark.range(n).select(col("id").as("id_a"),
      pmod(col("id") + 1, lit(n)).as("id_b"))
    val pr = Pipeline15.pagerank(nodes, ring)
    assert(pr.filter(col("degree") =!= 2L).isEmpty, "ring degrees")
    assert(pr.filter(col("pr") =!= 0.00001).isEmpty,
      "uniform fixed point must be exact at 100k nodes")

    // q117's claim: the loop is corpus-shuffle-free and returns a unit
    // vector with a positive spectrum on 50k x 64
    val pca = SparkEntry.queries("q117_pca_power")(spark, dir).collect()
    assert(pca.length == 64)
    val norm = math.sqrt(pca.map(r => r.getDouble(1) * r.getDouble(1)).sum)
    assert(math.abs(norm - 1.0) < 1e-4, s"unit loading vector, got $norm")
    assert(pca.forall(_.getDouble(2) > 0.0), "positive top eigenvalue")

    // q118's claim: every vector lands in exactly one of the 16 cells
    // (scan-local assignment — no corpus shuffle to lose rows in)
    val km = Pipeline15.kmeansLloyd(
      spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding")),
      "vec_id", "embedding").collect()
    assert(km.map(_.getLong(1)).sum == 50000L, "assignment is a partition")
    assert(km.forall(_.getDouble(2) > 0.0))

    // q120's claim: labels advance exactly one hop per round at any
    // graph size — on a 100k chain with seeds every 10k, 3 rounds label
    // precisely the radius-3 balls (interior seeds 7 nodes, node-0 seed 4)
    val cn = 100000L
    val chainNodes = spark.range(cn).select(col("id"),
      col("id").as("label"), (col("id") % 10000 === 0).as("is_seed"))
    val chainEdges = spark.range(cn - 1).select(col("id").as("id_a"),
      (col("id") + 1).as("id_b"))
    val lp = Pipeline15.labelPropagation(chainNodes, chainEdges)
      .filter(col("label_pred").isNotNull)
    assert(lp.count() == 9L * 7L + 4L, "radius-3 balls around the seeds")
    assert(lp.filter(col("id") === 10003L).head().getLong(2) == 10000L)
    assert(lp.filter(col("id") === 9997L).head().getLong(2) == 10000L)
  }

  test("batch-18/19/20 monitors stay bounded at 1M events / 50k docs") {
    import graft.queries.{Pipeline18, Pipeline19, Pipeline20}

    // q141's claim on 100k (type, hour) cells: a flat planted baseline
    // (10 types x 10k hours, constant count) plus ONE spiked hour per
    // type — exactly the 10 planted spikes flag, everything else z<2.
    // The hourly table is the only corpus-sized pass; moments broadcast.
    val cells = spark.range(100000)
      .select(concat(lit("t"), (col("id") % 10)).as("event_type"),
        // hour-aligned base + INTEGER hour index (a double division
        // here smears cells across hour boundaries)
        timestamp_seconds(lit(1699999200L) +
          expr("id div 10") * 3600L).as("hour_ts"),
        // 5 events per cell, 50 in each type's first hour
        when(col("id") < 10, 50).otherwise(5).as("n"))
    val ev = cells.select(col("event_type"),
        explode(sequence(lit(1), col("n"))).as("_i"), col("hour_ts"))
      .select(col("event_type"), col("hour_ts").as("ts_t"))
    val bursts = Pipeline19.hourlyBursts(ev).localCheckpoint()
    assert(bursts.count() == 100000L, "one row per (type, hour) cell")
    val flagged = bursts.filter(col("is_burst") === 1L).collect()
    assert(flagged.length == 10 &&
      flagged.forall(_.getAs[java.sql.Timestamp]("hour").getTime ==
        1699999200L * 1000L),
      "exactly the 10 planted spike hours flag")

    // q144's claim at ~1M events: 10k users each walking the strict
    // a->b->c cycle — every transition is deterministic, so every
    // per-type entropy is EXACTLY +0.0 and modal_frac is 1
    val cyc = spark.range(1000000).select(
      expr("id div 100").as("user_id"),
      timestamp_seconds(lit(1700000000L) + (col("id") % 100)).as("ts_t"),
      col("id").as("event_id"),
      element_at(array(lit("a"), lit("b"), lit("c")),
        ((col("id") % 3) + 1).cast("int")).as("event_type"))
    val ent = Pipeline20.markovEntropy(cyc).collect()
    assert(ent.length == 3 && ent.forall(r =>
      r.getDouble(3) == 0.0 && r.getDouble(5) == 1.0),
      "deterministic cycles must score exactly zero entropy")

    // q134's claim on 50k docs: the in-row repetition metrics obey
    // their bounds everywhere (fractions in [0,1], never null, counts
    // consistent), and a planted degenerate doc (one word x 500) gets
    // the closed-form extreme
    import spark.implicits._
    val words = spark.range(50000).select(col("id").as("doc_id"),
      when(col("id") === 0L,
          array_repeat(lit("spam"), 500))
        .otherwise(transform(sequence(lit(1), lit(20)),
          i => substring(md5(concat(col("id").cast("string"), i)), 1, 6)))
        .as("words"))
    val rep = Pipeline18.repetitionMetrics(words).localCheckpoint()
    assert(rep.count() == 50000L)
    assert(rep.filter(col("dup_2gram_frac").isNull ||
      col("dup_2gram_frac") < 0 || col("dup_2gram_frac") > 1 ||
      col("top_2gram_frac") < 0 || col("top_2gram_frac") > 1).isEmpty,
      "repetition fractions are total and bounded on every doc")
    val spam = rep.filter(col("doc_id") === 0L).head()
    assert(spam.getAs[Long]("n_2grams") == 499L &&
      spam.getAs[Double]("dup_2gram_frac") == 0.997996 &&
      spam.getAs[Double]("top_2gram_frac") == 1.0 &&
      spam.getAs[Long]("is_repetitive") == 1L,
      "the degenerate doc hits the closed-form extreme")
  }

  test("batch-16 diagnostics stay bounded on 100k nodes / 50k docs") {
    import java.nio.file.Files
    import graft.queries.Pipeline16

    // q121's operator claim at 100k nodes: a triangle-free ring (every
    // degree 2, zero closure) plus a disjoint 30-clique — the oriented
    // wedge enumeration must count the clique's C(30,3) triangles
    // exactly and nothing on the ring, with lcc exactly 1 inside the
    // clique and 0 on the ring
    val n = 100000L
    val ring = spark.range(n).select(col("id").as("id_a"),
      pmod(col("id") + 1, lit(n)).as("id_b"))
    val cliqueIds = (200000L until 200030L)
    val clique = spark.createDataFrame(
      for { a <- cliqueIds; b <- cliqueIds; if a < b } yield (a, b))
      .toDF("id_a", "id_b")
    val nodes = spark.range(n).select(col("id"))
      .union(spark.createDataFrame(cliqueIds.map(Tuple1(_))).toDF("id"))
    val tri = Pipeline16.triangleStats(nodes, ring.union(clique))
    assert(tri.filter(col("id") < n)
      .filter(col("triangles") =!= 0L || col("lcc") =!= 0.0).isEmpty,
      "the ring is triangle-free at any size")
    val cl = tri.filter(col("id") >= 200000L).collect()
    assert(cl.length == 30 && cl.forall(r =>
      r.getLong(1) == 29L && r.getLong(2) == 406L && r.getDouble(3) == 1.0),
      "each clique node closes C(29,2) wedges")

    // q122's claim on a 50k-doc salad corpus: the winnow selection obeys
    // its hard bounds everywhere (1 <= n_fps <= n_windows when a window
    // fits, 0 otherwise) and the density sits near the 2/(w+1) theory —
    // the scan-local form cannot silently drop documents
    val dir = Files.createTempDirectory("scale_p16").toString
    val salad = concat_ws(" ", (0 until 16).map(i =>
      substring(md5(to_binary(concat(col("id").cast("string"),
        lit(s"_w$i")), lit("utf-8"))), 1, (i % 5) + 4)): _*)
    spark.range(50000).select(col("id").as("doc_id"), salad.as("text"),
        lit("en").as("lang"), lit("src").as("source"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val win = Pipeline16.winnowFingerprints(
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          split(graft.text.TextOps.normalize(col("text")), " ")
            .as("words")))
    // 16 words → 13 grams → 6 windows per doc
    assert(win.filter(col("n_grams") =!= 13L).isEmpty)
    assert(win.filter(col("n_fps") < 1L || col("n_fps") > 6L).isEmpty,
      "winnow bounds must hold on every document")
    val meanFps = win.agg(avg(col("n_fps"))).head().getDouble(0)
    assert(meanFps >= 1.5 && meanFps <= 5.0,
      s"selection density far from 2/(w+1) theory: $meanFps")

    // q123's claim: the 256-byte register estimate holds its error
    // contract at 50k distincts and is invariant to partitioning
    import graft.dedup.Hll
    val ids = spark.range(50000)
      .select(Hll.md5Hex(col("id")).as("h"))
    def est(parts: Int): Double = ids.repartition(parts)
      .agg(Hll.hllDistinct(col("h"))).head().getDouble(0)
    val e = est(32)
    assert(math.abs(e - 50000.0) / 50000.0 < 0.15,
      s"HLL(256) must sit within ~2 sigma at 50k, got $e")
    assert(est(7) == e, "register merge is partitioning-invariant")

    // q127's claim at 50k docs: 1000 planted 3-doc families (every
    // member carries the family's 11-word run at a different offset)
    // are recovered EXACTLY — the winnow guarantee plus the df-capped
    // pair enumeration neither merges families (distinct runs can't
    // collide barring md5 collisions) nor splits them
    val famRun = (0 until 11).map(i =>
      concat(lit(s"f${i}_"), (col("id") % 1000).cast("string")))
    val member = concat_ws(" ",
      (md5(concat(lit("pre"), col("id").cast("string")))
        .substr(lit(1), ((col("id") % 3) * 2 + 2).cast("int")) +:
        famRun :+
        substring(md5(concat(lit("post"), col("id").cast("string"))), 1, 6)): _*)
    val famWords = spark.range(3000)
      .select(col("id").as("doc_id"),
        split(graft.text.TextOps.normalize(member), " ").as("words"))
    // minShared = 1: the winnow guarantee promises ≥1 shared fp per
    // 11-word run (the ≥2 default needs longer shared spans)
    val fams = graft.queries.Pipeline16.winnowFamilies(famWords,
      minShared = 1)
    assert(fams.filter(col("n_members") =!= 3L).isEmpty,
      "every planted 3-doc family must be recovered exactly")
    assert(fams.filter(col("cluster_id") =!= col("doc_id") % 1000)
      .isEmpty, "family rep must be the min doc_id of its run group")
  }
}
