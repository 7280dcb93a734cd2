package graft

import org.apache.spark.sql.functions._
import graft.ops.{Chunk, Percentiles}
import graft.text.Pii

/** PII scrubbing, overlapping chunking, and histogram-exact percentiles. */
class Pipeline4Spec extends SparkSuite {
  import spark.implicits._

  test("Pii.scrub: sequential counts and token substitution") {
    val df = Seq(
      (1L, "mail a@b.co and c.d+x@e-f.org, server 10.0.0.1, call +55 (11) 98765-4321"),
      (2L, "no pii here at all"),
      (3L, "ip-like 999.999.999.999 still redacts; 12345678 is phone-like"),
      (4L, "")).toDF("doc_id", "text")
    val got = Pii.scrub(df, "text", "red")
      .select("doc_id", "n_emails", "n_ipv4", "n_phones", "red")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(got(1L)._1 == 2 && got(1L)._2 == 1 && got(1L)._3 == 1)
    assert(got(1L)._4 ==
      "mail <EMAIL> and <EMAIL>, server <IP>, call <PHONE>")
    assert(got(2L) == ((0L, 0L, 0L, "no pii here at all")))
    // format screen, not range validation; bare digit runs are phone-like
    assert(got(3L)._2 == 1 && got(3L)._3 == 1)
    assert(got(4L) == ((0L, 0L, 0L, "")))
  }

  test("Pii email digits are not double-counted as phones") {
    // the 10-digit local part would match PhonePat if phones ran first;
    // sequential redaction tokenizes it away with the email
    val df = Seq((1L, "reach 0123456789@x.io now")).toDF("doc_id", "text")
    val r = Pii.scrub(df, "text", "red").collect().head
    assert(r.getAs[Long]("n_emails") == 1)
    assert(r.getAs[Long]("n_phones") == 0)
    assert(r.getAs[String]("red") == "reach <EMAIL> now")
  }

  test("Chunk.chunkWords: boundary arithmetic and overlap") {
    val text10 = (1 to 10).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, text10), (2L, "a b c"), (3L, "")).toDF("doc_id", "text")
    val got = Chunk.chunkWords(df, "text", window = 4, stride = 3)
      .select(col("doc_id"), col("chunk_idx"), col("chunk"))
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[String](2).toList))
    val byDoc = got.groupBy(_._1)
    // 10 words, W=4 S=3: starts 0,3,6,9 -> ceil((10-4)/3)+1 = 3 chunks
    val d1 = byDoc(1L).sortBy(_._2).map(_._3).toList
    assert(d1 == List(
      List("w1", "w2", "w3", "w4"),
      List("w4", "w5", "w6", "w7"),
      List("w7", "w8", "w9", "w10")))
    // text shorter than one window: single whole-text chunk
    assert(byDoc(2L).map(_._3).toList == List(List("a", "b", "c")))
    // empty text: normalize->split yields [""], one chunk of [""]
    assert(byDoc(3L).map(_._3).toList == List(List("")))
  }

  test("Chunk.chunkWords covers every word exactly (no gaps at any n)") {
    val rows = (0 until 40).map { n =>
      (n.toLong, (1 to n).map(i => s"t$i").mkString(" "))
    }
    val df = rows.toDF("doc_id", "text")
    val chunks = Chunk.chunkWords(df, "text", window = 7, stride = 5)
      .select(col("doc_id"), col("chunk_idx"), col("chunk")).collect()
    rows.filter(_._2.nonEmpty).foreach { case (id, text) =>
      val words = text.split(" ").toSet
      val covered = chunks.filter(_.getLong(0) == id)
        .flatMap(_.getSeq[String](2)).toSet
      assert(covered == words, s"doc $id gap: ${words.diff(covered)}")
    }
  }

  test("Chunk.chunkWords rejects stride > window") {
    val df = Seq((1L, "a")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](
      Chunk.chunkWords(df, "text", window = 4, stride = 5))
  }

  test("Percentiles.exactByHistogram matches Spark's percentile aggregate") {
    // mixed group sizes incl. a singleton and a duplicate-heavy group
    val rng = new scala.util.Random(7)
    val rows = Seq.tabulate(500)(i => ("g" + (i % 3), rng.nextInt(40).toLong)) ++
      Seq(("solo", 42L))
    val df = rows.toDF("g", "v")
    val ps = Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)
    val got = Percentiles.exactByHistogram(df, "g", "v", ps)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val want = df.groupBy("g").agg(
        count(lit(1)).as("n"),
        round(expr("percentile(v, 0.5)"), 6),
        round(expr("percentile(v, 0.9)"), 6),
        round(expr("percentile(v, 0.99)"), 6))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got == want)
  }
}
