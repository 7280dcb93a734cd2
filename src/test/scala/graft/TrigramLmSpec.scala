package graft

import org.apache.spark.sql.functions._
import graft.text.TrigramLm

/** Character-trigram LM scoring: hand-computed smoothing arithmetic,
  * the fluent-vs-gibberish ordering the filter exists for, and the
  * short-document edge.
  */
class TrigramLmSpec extends SparkSuite {
  import spark.implicits._

  test("hand-computed add-one smoothing on a two-doc corpus") {
    // both docs = "abab": trigrams aba, bab each twice over the corpus;
    // N = 4 instances, V = 2 distinct -> every logp = ln((2+1)/(4+2))
    // = ln(1/2); each doc's mean is ln(1/2) = -0.693147 at 6 dp
    val docs = Seq((1L, "abab"), (2L, "abab")).toDF("doc_id", "text")
    val got = TrigramLm.score(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(got.length == 2)
    for (r <- got) {
      assert(r.getLong(1) == 2L, "abab has 2 trigram instances")
      assert(r.getDouble(2) == -0.693147)
    }
  }

  test("gibberish scores strictly below every fluent document") {
    val fluent = (1L to 20L).map(i =>
      (i, "the cat sat on the mat and the dog sat on the log"))
    val docs = (fluent :+ (99L, "zqxjwv kpqzx jvwqk xzjqp wkvzq"))
      .toDF("doc_id", "text")
    val scores = TrigramLm.score(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val worstFluent = (1L to 20L).map(scores).min
    assert(scores(99L) < worstFluent,
      "rare-trigram text must score below common-trigram text")
  }

  test("documents shorter than one trigram get n_tri 0 and null score") {
    val docs = Seq((1L, "ab"), (2L, "abcd")).toDF("doc_id", "text")
    val got = TrigramLm.score(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(got(0).getLong(1) == 0L && got(0).isNullAt(2))
    // "abcd" -> abc, bcd
    assert(got(1).getLong(1) == 2L && !got(1).isNullAt(2))
  }

  test("incremental count merge equals a full rebuild") {
    val day1 = Seq((1L, "the cat sat"), (2L, "on the mat")).toDF("doc_id", "text")
    val day2 = Seq((3L, "the dog sat"), (4L, "zq xj")).toDF("doc_id", "text")
    val merged = TrigramLm.mergeCounts(
      TrigramLm.counts(day1, "doc_id", "text"), day2, "doc_id", "text")
    val rebuilt = TrigramLm.counts(day1.unionByName(day2), "doc_id", "text")
    assert(merged.exceptAll(rebuilt).count() == 0 &&
      rebuilt.exceptAll(merged).count() == 0)
  }

  test("model frame scores unseen trigrams at the smoothed default") {
    import graft.streaming.EventStreams
    val corpus = Seq((1L, "abab")).toDF("doc_id", "text")
    // model: aba, bab once each -> N=2, V=2; default = ln(1/4)
    val model = TrigramLm.modelFrame(
      TrigramLm.counts(corpus, "doc_id", "text"))
    // "xyzw" -> xyz, yzw: both unseen -> mean = ln(1/4) = -1.386294
    val got = EventStreams.lmScoreStream(
      Seq((9L, "xyzw")).toDF("doc_id", "text"), model).collect()
    assert(got.head.getLong(1) == 2L)
    assert(got.head.getDouble(2) == -1.386294)
  }

  test("a hash-sampled model reproduces full-model scores closely") {
    // the 100 TB shape: estimate the model from a deterministic 50%
    // md5 sample (ops.Sample.keep), score everyone. Trigram frequencies
    // are stable under halving, so per-doc scores track the full model
    // tightly — the divergence bound here is what licenses the
    // sampled-model deployment note in the scaladoc
    import graft.ops.Sample
    import graft.streaming.EventStreams
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val full = graft.text.TrigramLm.modelFrame(
      graft.text.TrigramLm.counts(docs, "doc_id", "text"))
    val half = graft.text.TrigramLm.modelFrame(
      graft.text.TrigramLm.counts(
        docs.filter(Sample.keep(col("doc_id"), 0.5)), "doc_id", "text"))
    val a = EventStreams.lmScoreStream(docs, full)
      .select(col("doc_id"), col("lm_score").as("s_full"))
    val b = EventStreams.lmScoreStream(docs, half)
      .select(col("doc_id"), col("lm_score").as("s_half"))
    val diffs = a.join(b, Seq("doc_id"))
      .select(abs(col("s_full") - col("s_half")).as("d"))
      .agg(max(col("d")).as("mx"), avg(col("d")).as("mean")).head()
    assert(diffs.getDouble(1) < 0.05,
      s"mean |Δscore| ${diffs.getDouble(1)} too large for a half-corpus model")
    assert(diffs.getDouble(0) < 0.30,
      s"max |Δscore| ${diffs.getDouble(0)} too large for a half-corpus model")
  }

  test("memoized count table reproduces self-scoring exactly") {
    // the q87 contract: LmMemo stores the EXACT full-corpus counts, so
    // scoreWith(memo) must be value-identical to score(docs) — the memo
    // moves when the model is computed, never what it is
    val d = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), col("text"))
    val self = TrigramLm.score(docs, "doc_id", "text")
    val memo = TrigramLm.scoreWith(docs,
      graft.queries.LmMemo.trigramCounts(spark, d), "doc_id", "text")
    assert(self.exceptAll(memo).count() == 0 &&
      memo.exceptAll(self).count() == 0)
    // second read must come from the cache: same frame instance
    assert(graft.queries.LmMemo.trigramCounts(spark, d) eq
      graft.queries.LmMemo.trigramCounts(spark, d))
  }

  test("native in-row scorer equals the relational scorer") {
    // q87's deployed path: TrigramLmScore (hash-probe expression) vs
    // the explode->join->agg twin, on the fixture corpus and on
    // astral-char input (substr counts CODE POINTS — a surrogate pair
    // is one trigram position, which the expression must reproduce)
    val d = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), col("text"))
    val self = TrigramLm.score(docs, "doc_id", "text")
    val inRow = TrigramLm.scoreInRow(docs,
      graft.queries.LmMemo.collectedModel(spark, d), "doc_id", "text")
    assert(self.exceptAll(inRow).count() == 0 &&
      inRow.exceptAll(self).count() == 0)
    val odd = Seq((1L, "a😀b😀c"), (2L, "ab"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val m = TrigramLm.collectModel(TrigramLm.counts(odd, "doc_id", "text"))
    val a = TrigramLm.score(odd, "doc_id", "text")
    val b = TrigramLm.scoreInRow(odd, m, "doc_id", "text")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "code-point trigram parity must hold on astral/short/null input")
  }

  test("sampled-model ranking is stable vs the exact model") {
    // beyond per-score closeness (previous test): the filter's OUTPUT is
    // an ordering and a cutoff decision, so pin (a) Spearman rank
    // correlation of the two scorings and (b) agreement on the
    // bottom-decile cut — the docs a p10 quality gate would drop
    import graft.ops.Sample
    import graft.streaming.EventStreams
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val full = TrigramLm.modelFrame(TrigramLm.counts(docs, "doc_id", "text"))
    val half = TrigramLm.modelFrame(TrigramLm.counts(
      docs.filter(Sample.keep(col("doc_id"), 0.5)), "doc_id", "text"))
    val rows = EventStreams.lmScoreStream(docs, full)
      .select(col("doc_id"), col("lm_score").as("sf"))
      .join(EventStreams.lmScoreStream(docs, half)
        .select(col("doc_id"), col("lm_score").as("sh")), Seq("doc_id"))
      .filter(col("sf").isNotNull && col("sh").isNotNull)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.length > 100, "fixture corpus unexpectedly small")
    def ranks(xs: Array[Double]): Map[Double, Double] =
      xs.sorted.zipWithIndex.groupBy(_._1)
        .map { case (v, g) => v -> g.map(_._2).sum.toDouble / g.length }
    val rf = ranks(rows.map(_._2))
    val rh = ranks(rows.map(_._3))
    val (xs, ys) = (rows.map(r => rf(r._2)), rows.map(r => rh(r._3)))
    val n = rows.length
    val (mx, my) = (xs.sum / n, ys.sum / n)
    val cov = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val sd = math.sqrt(xs.map(x => (x - mx) * (x - mx)).sum *
      ys.map(y => (y - my) * (y - my)).sum)
    val rho = cov / sd
    // measured 0.976 on the sf0.001 fixture (deterministic hash sample;
    // a ~600-doc half-model is the noisiest case — fidelity only grows
    // with corpus size as trigram frequencies concentrate)
    assert(rho > 0.95, s"Spearman rho $rho — sampled model reorders docs")
    val k = n / 10
    val bottomF = rows.sortBy(_._2).take(k).map(_._1).toSet
    val bottomH = rows.sortBy(_._3).take(k).map(_._1).toSet
    val agree = bottomF.intersect(bottomH).size.toDouble / k
    assert(agree > 0.8,
      s"bottom-decile agreement $agree — sampled model moves the p10 cut")
  }

  test("normalization feeds the model: case and whitespace collapse") {
    // "AB  AB" normalizes to "ab ab" == "ab ab" verbatim -> same score
    val docs = Seq((1L, "AB  AB"), (2L, "ab ab")).toDF("doc_id", "text")
    val got = TrigramLm.score(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(1L) == got(2L))
  }
}
