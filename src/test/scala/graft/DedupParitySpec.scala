package graft

import org.apache.spark.sql.functions._
import graft.dedup.{DedupOps, NGramArray, SortedArraysJaccard}

/** Native Catalyst dedup expressions vs their composed-HOF twins, and the
  * pigeonhole-banded SimHash pair join vs the brute-force all-pairs form
  * (which the banding must reproduce exactly for Hamming <= 2).
  */
class DedupParitySpec extends SparkSuite {
  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))

  test("native SimHashSig equals the HOF-composed simhash") {
    val native = DedupOps.withSimhash16(docs, "text", "sh").select("doc_id", "sh")
    val hof = DedupOps.withSimhash16Hof(docs, "text", "sh").select("doc_id", "sh")
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty)
  }

  test("native SimHashSig on edge-case strings matches HOF") {
    import spark.implicits._
    val edge = Seq("", "   ", "a", "A  a\tA", "word word word", "çãé ÇÃÉ")
      .toDF("text").withColumn("doc_id", monotonically_increasing_id())
    val native = DedupOps.withSimhash16(edge, "text", "sh").select("doc_id", "sh")
    val hof = DedupOps.withSimhash16Hof(edge, "text", "sh").select("doc_id", "sh")
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty)
  }

  test("array-input NGramArray equals the string form on shared words") {
    // the GramMemo contract: grams built from the materialized
    // split(normalize(text)) words must equal grams built from the raw
    // text, for every gram size the q79/q86/q94 family uses
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val edge = (Seq("", "   ", "a", "A  a\tA", "word word word",
      "çãé ÇÃÉ", "the cat sat on the mat") ++
      docs.limit(50).collect().map(_.getString(1)))
      .toDF("text").withColumn("doc_id", monotonically_increasing_id())
      .withColumn("words",
        split(graft.text.TextOps.normalize(col("text")), " "))
    for (n <- Seq(1, 3, 8)) {
      val a = edge.select(col("doc_id"),
        column(NGramArray(expression(col("text")), n)).as("g"))
      val b = edge.select(col("doc_id"),
        column(NGramArray(expression(col("words")), n)).as("g"))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"gram size $n: words-array grams must equal text grams")
    }
    // passage keys: the q79 shape over the same two inputs
    val pa = edge.select(col("doc_id"),
      graft.text.TextOps.passageHashes(col("text"), 4).as("p"))
    val pb = edge.select(col("doc_id"),
      graft.text.TextOps.passageHashesOfWords(col("words"), 4).as("p"))
    assert(pa.exceptAll(pb).isEmpty && pb.exceptAll(pa).isEmpty,
      "words-array passage hashes must equal text passage hashes")
  }

  test("native MinHashSig equals the HOF-composed signature") {
    val k = 5; val n = 6
    val native = DedupOps.withMinhashSignature(docs.limit(300), "text", k, n)
      .select("doc_id", (0 until n).map(i => s"m$i"): _*)
    val hof = DedupOps.withMinhashSignatureHof(docs.limit(300), "text", k, n)
      .select("doc_id", (0 until n).map(i => s"m$i"): _*)
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty)
  }

  test("rolling min-hash: window math, null under k bytes, shift property") {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    import spark.implicits._
    val rh = (c: org.apache.spark.sql.Column) =>
      column(graft.text.RollingMinHash(expression(c), 8, 31L, 2147483647L))
    val df = Seq("abcdefgh", "short", "abcdefghi", "XYZabcdefghi")
      .toDF("t")
      .select(col("t"), rh(to_binary(col("t"), lit("utf-8"))).as("h"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // exactly one window: the direct polynomial of the 8 bytes
    val expect = "abcdefgh".getBytes("UTF-8")
      .foldLeft(0L)((h, b) => h * 31 + (b & 0xff)) % 2147483647L
    assert(df("abcdefgh").contains(expect))
    assert(df("short").isEmpty) // < 8 bytes -> null
    // a shifted superset of windows can only lower the minimum
    assert(df("XYZabcdefghi").get <= df("abcdefghi").get)
  }

  test("native NGramJaccard equals the HOF gram-array form") {
    import graft.text.TextOps
    val withW = docs
      .select(col("doc_id"), col("text"),
        split(TextOps.normalize(col("text")), " ").as("_w"))
      .select(col("doc_id"), col("text"),
        DedupOps.ngramsOfWords(col("_w"), 3).as("grams"))
    val a = withW.select(col("doc_id").as("id_a"), col("text").as("ta"),
      col("grams").as("ga"))
    val b = withW.select(col("doc_id").as("id_b"), col("text").as("tb"),
      col("grams").as("gb"))
    val pairs = a.join(b, col("id_b") === col("id_a") + 7)
    val both = pairs.select(col("id_a"),
      DedupOps.jaccardOfTexts(col("ta"), col("tb"), 3).as("nativ"),
      DedupOps.jaccardOfGrams(col("ga"), col("gb")).as("hof"))
    assert(both.filter(col("nativ") =!= col("hof")).isEmpty)
    assert(both.count() > 0)

    // edge cases: empty, single word, identical, disjoint
    import spark.implicits._
    val edge = Seq(("", ""), ("a", "a"), ("a b", "c d"),
      ("  x  Y z ", "x y z"), ("um dois tres quatro", "dois tres quatro"))
      .toDF("ta", "tb")
    val ew = (c: org.apache.spark.sql.Column) =>
      DedupOps.ngramsOfWords(split(TextOps.normalize(c), " "), 3)
    val eboth = edge.select(
      DedupOps.jaccardOfTexts(col("ta"), col("tb"), 3).as("nativ"),
      DedupOps.jaccardOfGrams(ew(col("ta")), ew(col("tb"))).as("hof"))
    assert(eboth.filter(col("nativ") =!= col("hof")).isEmpty)
  }

  test("native ByteHistogram16 features equal the HOF form") {
    import graft.multimodal.Multimodal
    val payloads = docs.select(col("doc_id"),
      to_binary(col("text"), lit("utf-8")).as("payload"))
    val nat = Multimodal.withByteFeatures(payloads, "payload").drop("payload")
    val hof = Multimodal.withByteFeaturesHof(payloads, "payload").drop("payload")
    assert(nat.exceptAll(hof).isEmpty && hof.exceptAll(nat).isEmpty)
  }

  test("NGramArray + SortedArraysJaccard equals the one-pass NGramJaccard") {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    import graft.dedup.{NGramArray, SortedArraysJaccard}
    import spark.implicits._
    val edge = Seq("", " ", "a", "a b c d e", "A  a\tA", "çé ÇÉ x")
      .toDF("text").withColumn("doc_id", monotonically_increasing_id())
    val both = docs.unionByName(edge.select("doc_id", "text"))
    val a = both.select(col("doc_id").as("id_a"), col("text").as("ta"),
      column(NGramArray(expression(col("text")), 3)).as("ga"))
    val b = both.select(col("doc_id").as("id_b"), col("text").as("tb"),
      column(NGramArray(expression(col("text")), 3)).as("gb"))
    val pairs = a.join(b, col("id_b") === col("id_a") + 37)
      .select(
        DedupOps.jaccardOfTexts(col("ta"), col("tb"), 3).as("onepass"),
        round(column(SortedArraysJaccard(
          expression(col("ga")), expression(col("gb")))), 6).as("merged"))
    assert(pairs.filter(col("onepass") =!= col("merged")).isEmpty)
    assert(pairs.count() > 0)
  }

  test("NGramJaccard rejects a non-string child at analysis") {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    import graft.dedup.NGramJaccard
    for ((l, r) <- Seq(col("doc_id") -> col("text"),
        col("text") -> col("doc_id"), split(col("text"), " ") -> col("text"))) {
      val err = intercept[org.apache.spark.sql.AnalysisException] {
        docs.select(column(NGramJaccard(expression(l), expression(r), 3)))
      }
      assert(err.getMessage.contains("requires two STRING arguments"))
    }
    // two strings still analyze and evaluate
    assert(docs.select(column(NGramJaccard(expression(col("text")),
      expression(col("text")), 3)).as("j")).filter(col("j") =!= 1.0).isEmpty)
  }

  test("native DotCosine equals the HOF-composed cosine (bit-exact)") {
    import graft.sim.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val pairs = a.join(b, col("id_b") === col("id_a") + 7)
      .select(Similarity.cosine(col("va"), col("vb")).as("nativ"),
        Similarity.cosineHof(col("va"), col("vb")).as("hof"))
    // RAW doubles compared (no rounding): the fused loop must reproduce
    // the HOF fold bit-for-bit, not merely to 6 places
    assert(pairs.filter(col("nativ") =!= col("hof")).isEmpty)
    assert(pairs.filter(col("nativ").isNull =!= col("hof").isNull).isEmpty)
    assert(pairs.count() > 0)
  }

  test("native DotProduct equals the HOF-composed dot (bit-exact)") {
    import graft.sim.{DotProduct, Similarity}
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val pairs = a.join(b, col("id_b") === col("id_a") + 7)
      .select(column(DotProduct(
          expression(col("va")), expression(col("vb")))).as("nativ"),
        Similarity.dot(col("va"), col("vb")).as("hof"))
    assert(pairs.filter(col("nativ") =!= col("hof")).isEmpty)
    assert(pairs.count() > 0)
    // mixed width (float vs double side) + null/mismatch contract
    import spark.implicits._
    val edge = Seq(
      (1L, Array(1.0f, 2.0f), Array(3.0, 4.0)),      // mixed -> 11.0
      (2L, Array(0.0f, 0.0f), Array(1.0, 1.0)),      // zero vec -> 0.0
      (3L, Array(1.0f, 2.0f), Array(1.0)),           // mismatch -> null
      (4L, null, Array(1.0, 2.0))                    // null array -> null
    ).toDF("id", "va", "vb")
    val nat = edge.select(col("id"), column(DotProduct(
      expression(col("va")), expression(col("vb")))).as("d"))
    assert(nat.filter(col("id") === 1 && col("d") =!= 11.0).isEmpty)
    assert(nat.filter(col("id") === 2 && col("d") =!= 0.0).isEmpty)
    assert(nat.filter(col("id") >= 3 && col("d").isNotNull).isEmpty)
  }

  test("native DotCosine edge cases (nulls, mismatch, zero norm)") {
    import graft.sim.Similarity
    import spark.implicits._
    // the zero-norm/empty rows are NOT compared against the HOF twin:
    // under ANSI mode the HOF divide THROWS on a zero denominator, while
    // the native expression yields NULL (the DuckDB oracle's semantics
    // and the ranking null-score contract) — that asymmetry is the point
    val edge = Seq(
      (1L, Array(1.0f, 2.0f), Array(3.0f, 4.0f)),   // plain
      (2L, Array(0.0f, 0.0f), Array(1.0f, 1.0f)),   // zero norm -> null
      (3L, Array.empty[Float], Array.empty[Float]), // empty -> null
      (4L, Array(1.0f, 2.0f), Array(1.0f)),         // length mismatch -> null
      (5L, null, Array(1.0f, 2.0f))                 // null array -> null
    ).toDF("id", "va", "vb")
    val nat = edge.select(col("id"),
      Similarity.cosine(col("va"), col("vb")).as("nativ"))
    assert(nat.filter(col("id") === 1 && col("nativ").isNull).isEmpty)
    assert(nat.filter(col("id") > 1 && col("nativ").isNotNull).isEmpty)
    // well-formed row agrees with the HOF fold bit-for-bit
    val one = edge.filter(col("id") === 1).select(
      Similarity.cosine(col("va"), col("vb")).as("nativ"),
      Similarity.cosineHof(col("va"), col("vb")).as("hof"))
    assert(one.filter(col("nativ") =!= col("hof")).isEmpty)
  }

  test("native HyperplaneSketch16 equals the HOF-composed sketch") {
    import graft.sim.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val both = emb.select(
      Similarity.hyperplaneSketch16(col("embedding"), 64).as("nativ"),
      Similarity.hyperplaneSketch16Hof(col("embedding"), 64).as("hof"))
    assert(both.filter(col("nativ") =!= col("hof")).isEmpty)
    assert(both.count() > 0)
  }

  test("native HyperplaneSketch16 degenerate inputs sketch to 0, like HOF") {
    import graft.sim.Similarity
    import spark.implicits._
    val edge = Seq(
      (1L, Array(1.0f, -2.0f)),     // length != dim
      (2L, Array.empty[Float]),     // empty
      (3L, null: Array[Float])      // null array
    ).toDF("id", "v")
    for (sk <- Seq(Similarity.hyperplaneSketch16(col("v"), 64),
        Similarity.hyperplaneSketch16Hof(col("v"), 64))) {
      assert(edge.select(sk.as("s")).filter(col("s") =!= 0).isEmpty)
    }
  }

  test("embedding near-dup pairs equal the brute-force sketch+cosine result") {
    import graft.sim.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))

    val fast = Similarity.nearDupPairs(emb, threshold = 0.2)

    // brute force: all pairs, same sketch + hamming + cosine semantics
    val sk = emb.select(col("vec_id"),
      Similarity.hyperplaneSketch16(col("embedding"), 64).as("sketch"),
      col("embedding"))
    val a = sk.select(col("vec_id").as("id_a"), col("sketch").as("ska"),
      col("embedding").as("va"))
    val b = sk.select(col("vec_id").as("id_b"), col("sketch").as("skb"),
      col("embedding").as("vb"))
    val brute = a.join(b, col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("ska").bitwiseXOR(col("skb"))))
      .filter(col("hamming") <= 2)
      .withColumn("sim", round(Similarity.cosine(col("va"), col("vb")), 6))
      .filter(col("sim") >= 0.2)
      .select("id_a", "id_b", "hamming", "sim")

    assert(brute.exceptAll(fast).isEmpty && fast.exceptAll(brute).isEmpty)
    assert(fast.count() > 0, "fixture should contain near-dup pairs")
  }

  test("Hamming-ball pairs equal the brute-force all-pairs result") {
    val sig = DedupOps.withSimhash16(docs, "text", "simhash").drop("text")

    // brute force (test-only oracle; O(n^2), fine at sf0.001)
    val a = sig.select(col("doc_id").as("id_a"), col("simhash").as("sh_a"))
    val b = sig.select(col("doc_id").as("id_b"), col("simhash").as("sh_b"))
    val brute = a.join(b, col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= 2)
      .select("id_a", "id_b", "hamming")

    // Hamming-ball enumeration (the declared q43 plan)
    val ball = DedupOps.simhashHammingPairs(sig, "doc_id", "simhash", 2)

    assert(brute.exceptAll(ball).isEmpty && ball.exceptAll(brute).isEmpty)
    assert(brute.count() > 0, "fixture should contain near-dup pairs")
    // each pair must emerge exactly once (no distinct pass in the plan)
    assert(ball.groupBy("id_a", "id_b").count()
      .filter(col("count") > 1).isEmpty)
  }

  test("adaptive simhash width: clamp(16, ceil(log2 n) + 8, 31), integer-exact") {
    // values cross-checked against the oracle's SQL mirror
    // (least(31, greatest(16, length(bin(n-1)) + 8)) in DuckDB) on the
    // same boundary points — both ceil-log2 forms are integer-exact,
    // including AT powers of two where a float log2 could ulp-diverge
    val cases = Seq(1L -> 16, 2L -> 16, 256L -> 16, 257L -> 17,
      512L -> 17, 513L -> 18, 600L -> 18, 1024L -> 18, 6000L -> 21,
      60000L -> 24, (1L << 40) -> 31)
    for ((n, w) <- cases)
      assert(DedupOps.adaptiveSimhashWidth(n) == w,
        s"width($n) should be $w, got ${DedupOps.adaptiveSimhashWidth(n)}")
  }

  test("32-bit SimHash: ball == brute force; widening refines the 16-bit form") {
    val sig16 = DedupOps.withSimhash16(docs, "text", "sh16").drop("text")
    val sig32 = DedupOps.withSimhash(docs, "text", "sh32", 32).drop("text")

    // widening refines, never reshuffles: bit j depends only on md5
    // nibble j, so the low 16 bits of the 32-bit signature ARE the
    // 16-bit signature
    assert(sig16.join(sig32, "doc_id")
      .filter(col("sh32").bitwiseAND(lit(0xFFFF)) =!= col("sh16")).isEmpty)

    val a = sig32.select(col("doc_id").as("id_a"), col("sh32").as("sh_a"))
    val b = sig32.select(col("doc_id").as("id_b"), col("sh32").as("sh_b"))
    val brute = a.join(b, col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= 2)
      .select("id_a", "id_b", "hamming")
    val ball = DedupOps.simhashHammingPairs(
      sig32, "doc_id", "sh32", maxDist = 2, width = 32)
    assert(brute.exceptAll(ball).isEmpty && ball.exceptAll(brute).isEmpty)

    // a 32-bit Hamming <= 2 match differs in <= 2 of its low 16 bits, so
    // the wide pair set is a SUBSET of the 16-bit one. NOTE what this is
    // and is not: widening at a FIXED ball radius only REMOVES pairs —
    // mostly background collisions, but possibly true near-dups whose
    // extra 16 bits disagree (precision up, recall down). At scale one
    // tunes (width, maxDist) jointly — the mask count C(w,<=r) stays
    // enumerable (5,489 at width 32, radius 3) — the same (b, r) design
    // trade q166 charts for MinHash banding.
    val ball16 = DedupOps.simhashHammingPairs(sig16, "doc_id", "sh16", 2)
    assert(ball.select("id_a", "id_b")
      .exceptAll(ball16.select("id_a", "id_b")).isEmpty)

    // radius 3 (the recall knob one raises WITH the width): ball ==
    // brute force there too, and it strictly contains the radius-2 ball
    val brute3 = a.join(b, col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= 3)
      .select("id_a", "id_b", "hamming")
    val ball3 = DedupOps.simhashHammingPairs(
      sig32, "doc_id", "sh32", maxDist = 3, width = 32)
    assert(brute3.exceptAll(ball3).isEmpty && ball3.exceptAll(brute3).isEmpty)
    assert(ball.select("id_a", "id_b")
      .exceptAll(ball3.select("id_a", "id_b")).isEmpty,
      "the radius-3 ball must contain the radius-2 ball")
  }

  test("prefix-filtered Jaccard join is COMPLETE vs brute force") {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    // the property that distinguishes it from LSH: EVERY pair with
    // J >= t must appear — no false negatives — and nothing below t may
    val t = 0.5
    val g = docs.select(col("doc_id"),
      column(NGramArray(expression(col("text")), 3)).as("g"))
    val brute = g.select(col("doc_id").as("id_a"), col("g").as("ga"))
      .join(g.select(col("doc_id").as("id_b"), col("g").as("gb")),
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(column(SortedArraysJaccard(
          expression(col("ga")), expression(col("gb")))), 6).as("jaccard"))
      .filter(col("jaccard") >= t)
    val fast = DedupOps.prefixJaccardPairs(docs, "doc_id", "text", t)
    assert(brute.exceptAll(fast).isEmpty && fast.exceptAll(brute).isEmpty)
    assert(brute.count() > 0, "fixture should contain J >= 0.5 pairs")
  }
}
