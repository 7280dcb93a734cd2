package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Batch-ten semantics on constructed corpora: the NB classifier must go
  * perfectly diagonal when languages are separable (the driver fixture
  * is deliberately en-heavy and weakly separable, so the oracle alone
  * can't show the classifier LEARNS), and BM25 must honor tf saturation
  * and length normalization.
  */
class ClassifierSpec extends SparkSuite {
  import spark.implicits._

  /** Writes rows as a documents.parquet in a temp dir, returns the dir. */
  private def stage(rows: Seq[(Long, String, String)]): String = {
    val dir = Files.createTempDirectory("docs_cls").toString
    rows.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s0"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("NB confusion is perfectly diagonal on a separable corpus") {
    // disjoint vocabularies -> every doc's own-language likelihood
    // dominates; 4 docs per lang
    val rows = for {
      (l, ws) <- Seq("de" -> "der die das und", "en" -> "the and of to",
        "es" -> "el la los que")
      i <- 0 until 4
    } yield ((l.hashCode.toLong * 16 + i).abs, s"$ws $ws word$i", l)
    val dir = stage(rows)
    val m = graft.queries.Pipeline10.queries("q92_nb_lang_confusion")(
      spark, dir).collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2)))
    assert(m.forall { case (t, p, _) => t == p },
      s"off-diagonal predictions on a separable corpus: ${m.mkString(", ")}")
    assert(m.map(_._3).sum == 12L)
  }

  test("BM25 honors tf and length normalization") {
    // same length, higher tf wins; same tf, shorter doc wins
    val filler = "alpha beta gamma delta epsilon zeta eta theta " * 2
    val rows = Seq(
      (1L, "spark spark pad pad pad pad pad pad", "en"),   // tf 2, short
      (2L, "spark pad pad pad pad pad pad pad", "en"),     // tf 1, short
      (3L, s"spark $filler pad pad pad", "en"),            // tf 1, long
      (4L, s"$filler pad pad pad pad", "en"))              // tf 0
    val dir = stage(rows)
    val got = graft.queries.Pipeline10.queries("q93_bm25_topk")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L),
      s"expected ranking 1,2,3 (tf then length), got ${got.mkString(", ")}")
  }
}
