package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Artifacts, FeatureMemo, Tables}
import graft.text.TextOps

/** Pins the stored per-doc curation-feature table to the inline
  * expressions it replaced: every consumer that moved from
  * `TextOps.x(col("text"))` to a FeatureMemo column relies on the
  * artifact holding EXACTLY the inline value (unrounded — the
  * consumers apply their own rounding), and on the memo semantics
  * (same plan per session, rebuilt after clear) that Bench's
  * producer-clearing protocol assumes.
  */
class FeatureMemoSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val d = "/root/testdata/sf0.001"

  test("features == the inline per-doc expressions, column for column") {
    Artifacts.clearProducedBy("q38_text_quality")
    val memo = FeatureMemo.features(spark, d)
      .orderBy(col("doc_id")).collect()
    val inline = Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"),
        TextOps.qualityScore(col("text")).as("quality"),
        TextOps.langId(col("text")).as("lang_pred"),
        TextOps.tokenCountWs(col("text")).as("n_tokens_ws"),
        TextOps.tokenCountBpe(col("text")).as("n_tokens_bpe"),
        TextOps.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id")).collect()
    assert(memo.length == inline.length && memo.nonEmpty)
    memo.zip(inline).foreach { case (m, i) =>
      // exact equality, doubles included: the artifact stores the raw
      // expression output and parquet round-trips doubles bit-exactly
      assert(m == i, s"doc ${i.getLong(0)}")
    }
  }

  test("memo semantics: one build per session, rebuilt after clear") {
    Artifacts.clearProducedBy("q38_text_quality")
    val a = FeatureMemo.features(spark, d)
    val b = FeatureMemo.features(spark, d)
    assert(a eq b) // cache hit — consumers share ONE pinned plan
    Artifacts.clearProducedBy("q38_text_quality")
    val c = FeatureMemo.features(spark, d)
    assert(!(a eq c)) // Bench's producer clear forces a fresh build
    assert(c.count() == a.count())
  }
}
