package graft

import org.apache.spark.sql.functions._
import graft.dedup.DedupOps

/** Equivalence of the r12 numeric MinHash representation with the hex
  * form it replaced inside the q50-family lineage (guide §2.3 "narrower
  * types"): the claim is that unsigned-32-bit order over a signature
  * component equals lexicographic order over its 8-lowercase-hex-char
  * rendering, so every decision the lineage makes — per-shingle min,
  * component equality (est_jaccard, firstBandMatch), band-key
  * grouping — is preserved bit for bit. These tests pin that on the
  * real sf0.001 corpus:
  *
  *   1. value bijection: MinHashSigNum == parseInt(MinHashSig, 16)
  *      componentwise on every document (the min was taken over the
  *      same argmin shingle);
  *   2. band-bucket partition equality: grouping docs by the packed
  *      long key (with its companion band index) induces EXACTLY the
  *      md5-hex key's buckets;
  *   3. candidate pair-set equality: lshCandidatePairs over the numeric
  *      signature frame == over the hex frame.
  *
  * DedupClusterSpec closes the loop end-to-end (numeric
  * nearDupClusters / scoredPairsPlan against hex-built oracles), and the
  * DuckDB oracle — which still computes hex strings — gates every
  * declared query's final rows.
  */
class MinHashNumEquivalenceSpec extends SparkSuite {
  private val d = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$d/documents.parquet")
    .select(col("doc_id"), col("text"))

  test("MinHashSigNum components == parseInt(MinHashSig hex, 16) per doc") {
    val k = 5; val n = 8
    val hex = DedupOps.withMinhashSignature(docs, "text", k, n)
    val num = DedupOps.withMinhashSignatureNum(docs, "text", k, n)
    val hexAsLong = (0 until n).foldLeft(hex) { (acc, i) =>
      acc.withColumn(s"m$i", conv(col(s"m$i"), 16, 10).cast("long"))
    }.select(col("doc_id") +: (0 until n).map(i => col(s"m$i")): _*)
    val numSel = num
      .select(col("doc_id") +: (0 until n).map(i => col(s"m$i")): _*)
    assert(hexAsLong.exceptAll(numSel).count() == 0 &&
      numSel.exceptAll(hexAsLong).count() == 0,
      "numeric signature must be the parsed hex signature, every component")
  }

  test("bijection holds in the upper unsigned range (values above 2^31)") {
    // corpus signature components are MINS over hundreds of shingles, so
    // they concentrate near 0; single-shingle docs (|text| <= k) keep the
    // raw 32-bit slice values, which land above 2^31 about half the time
    // — exactly where a signed-int reading would invert the order.
    val sp = spark
    import sp.implicits._
    val k = 5; val n = 8
    val tiny = (0 until 64).map(i => (i.toLong, s"w$i")).toDF("doc_id", "text")
    val hex = DedupOps.withMinhashSignature(tiny, "text", k, n)
    val num = DedupOps.withMinhashSignatureNum(tiny, "text", k, n)
    val hexAsLong = (0 until n).foldLeft(hex) { (acc, i) =>
      acc.withColumn(s"m$i", conv(col(s"m$i"), 16, 10).cast("long"))
    }.select(col("doc_id") +: (0 until n).map(i => col(s"m$i")): _*)
    val numSel = num
      .select(col("doc_id") +: (0 until n).map(i => col(s"m$i")): _*)
    assert(hexAsLong.exceptAll(numSel).count() == 0 &&
      numSel.exceptAll(hexAsLong).count() == 0)
    val big = numSel.filter((0 until n)
      .map(i => col(s"m$i") > 0x7fffffffL).reduce(_ || _)).count()
    assert(big > 0, "single-shingle fixture must hit components above 2^31")
  }

  test("packed-long band keys induce exactly the md5-hex band buckets") {
    val k = 5; val n = 8; val rpb = 2
    val hex = DedupOps.withMinhashSignature(docs, "text", k, n)
    val num = DedupOps.withMinhashSignatureNum(docs, "text", k, n)
    def buckets(sig: org.apache.spark.sql.DataFrame,
                numeric: Boolean): Array[(Int, Seq[Long])] = {
      val sigRef = (0 until n).map(i => col(s"m$i"))
      val bands = (0 until n / rpb).map(b =>
        if (numeric) DedupOps.bandKeyNum(sigRef, b, rpb)
        else DedupOps.bandKey(sigRef, b, rpb))
      sig.select(col("doc_id"), posexplode(array(bands: _*))
          .as(Seq("bi", "band")))
        .filter(col("band").isNotNull)
        .groupBy(col("bi"), col("band"))
        .agg(sort_array(collect_list(col("doc_id"))).as("members"))
        .select(col("bi"), col("members"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Long](1)))
    }
    val hexBuckets = buckets(hex, numeric = false)
    val numBuckets = buckets(num, numeric = true)
    assert(hexBuckets.sortBy(b => (b._1, b._2.mkString(","))).toSeq ==
      numBuckets.sortBy(b => (b._1, b._2.mkString(","))).toSeq,
      "the (band index, member set) partition must be identical")
  }

  test("lshCandidatePairs: numeric signature frame == hex frame pair set") {
    val k = 5; val n = 8
    val hexPairs = DedupOps.lshCandidatePairs(
        DedupOps.withMinhashSignature(docs, "text", k, n).drop("text"),
        "doc_id", n, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val numPairs = DedupOps.lshCandidatePairs(
        DedupOps.withMinhashSignatureNum(docs, "text", k, n).drop("text"),
        "doc_id", n, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hexPairs.nonEmpty, "fixture must produce candidate pairs")
    assert(hexPairs == numPairs,
      "candidate pair sets must be identical across representations")
  }
}
