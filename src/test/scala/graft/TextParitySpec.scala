package graft

import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Pins the one-pass native TextStats expression to the regex-Column
  * formulations it fused (langId, qualityScore, token counts) — on the
  * real documents fixture and on adversarial edge cases (empty, pure
  * whitespace, tabs/newlines, digits and underscores at word boundaries,
  * CJK, punctuation runs, accented words).
  */
class TextParitySpec extends SparkSuite {
  private val edgeCases = Seq(
    "",
    " ",
    "   ",
    "\t",
    "\t \n x \r\n y z ",
    "the and of to is in that it with for",
    "The THE the-the the_the the2 2the thethe",
    "el la los las es y en que de un una por",
    "le la les et est dans que une des du pour",
    "der die das und ist nicht mit ein eine zu",
    "café résumé naïve the",
    "一鿿二 mixed 中文 text the",
    "a.b,c;d:e!f?g...h!!!",
    "x" * 300,
    "1 22 333 4_4 _the_ the_ _the the",
    "word\tword\nwordword\fword\rword",
    "  leading and trailing  ",
    "only.punct!?;:,.",
    "ab" + "一" * 5 + "cd the and",
    // stopwords directly abutting non-ASCII letters: Java \b is
    // Unicode-aware, so none of these contain a word boundary and the
    // stopword must NOT count
    "中文the",
    "éto",
    "éto et", // decomposed: combining mark extends the word per \b
    "́the",    // mark with no base char IS a boundary
    new String(Character.toChars(0x1D552)) + "the", // astral letter abuts
    new String(Character.toChars(0x20000)) + "and", // astral CJK abuts
    "²the ²the",    // superscript two is NOT letterOrDigit -> boundary
    "‍the",    // zero-width joiner is a boundary
    // supplementary-plane code points: regexp_count counts per code
    // point, the char loop must not double-count surrogate pairs
    "a😀b the", // emoji between letters
    "😀😀 y",
    "a\uD83Db",     // lone high surrogate
    "a\uDE00b")     // lone low surrogate

  test("TextStats matches the regex twins on documents + edge cases") {
    val sp = spark
    import sp.implicits._
    val docs = spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("text"))
      .unionByName(edgeCases.toDF("text"))

    val cmp = docs.select(
      TextOps.langId(col("text")).as("lang_n"),
      TextOps.langIdRegex(col("text")).as("lang_r"),
      TextOps.qualityScore(col("text")).as("q_n"),
      TextOps.qualityScoreRegex(col("text")).as("q_r"),
      TextOps.tokenCountWs(col("text")).as("ws_n"),
      TextOps.tokenCountWsRegex(col("text")).as("ws_r"),
      TextOps.tokenCountBpe(col("text")).as("bpe_n"),
      TextOps.tokenCountBpeRegex(col("text")).as("bpe_r"),
      col("text"))

    val bad = cmp.filter(
      col("lang_n") =!= col("lang_r") ||
        col("q_n") =!= col("q_r") ||
        col("ws_n") =!= col("ws_r") ||
        col("bpe_n") =!= col("bpe_r"))
      .limit(5).collect()
    assert(bad.isEmpty, s"native != regex on: ${bad.mkString("; ")}")
  }

  test("individual score fields match regexp_count") {
    val sp = spark
    import sp.implicits._
    val df = edgeCases.toDF("text")
    val cmp = df.select(
      TextOps.scoreEn(col("text")).as("en_n"),
      regexp_count(lower(col("text")), lit(TextOps.EnPat)).as("en_r"),
      TextOps.scoreEs(col("text")).as("es_n"),
      regexp_count(lower(col("text")), lit(TextOps.EsPat)).as("es_r"),
      TextOps.scoreCjk(col("text")).as("zh_n"),
      regexp_count(col("text"), lit(TextOps.CjkPat)).as("zh_r"),
      col("text"))
    val bad = cmp.filter(col("en_n") =!= col("en_r") ||
      col("es_n") =!= col("es_r") || col("zh_n") =!= col("zh_r")).collect()
    assert(bad.isEmpty, s"score mismatch: ${bad.mkString("; ")}")
  }
}
