package graft.tools

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.DedupOps

/** Measures the adaptive-SimHash-width RECALL trade (judge directive
  * r10-#4): [[DedupOps.adaptiveSimhashWidth]] widens the signature with
  * the corpus to linearize the n²/2^width background-collision term,
  * and its scaladoc ASSERTED the cost — at a fixed Hamming radius a
  * wider signature drops marginal true near-dups — without a number.
  * This main plants a fully deterministic near-dup fixture and scores
  * every (width, maxDist) cell the adaptive rule can choose, so the
  * number picks the rule instead of prose.
  *
  * Fixture (no RNG anywhere — every word is an md5-derived token, so
  * the corpus and therefore every recall value is bit-reproducible):
  * `nBase` base documents of [[WordsPerDoc]] distinct synthetic words;
  * for each base, one variant per grade k ∈ [[Grades]] replacing k of
  * the words with fresh ones (SimHash here is order-free over distinct
  * words — [[graft.dedup.SimHashSig]] — so "replace k words" IS the
  * edit geometry the signature sees). The planted (base, variant) pair
  * at grade k is a true near-dup of graded strength; recall per cell =
  * planted pairs recovered by [[DedupOps.simhashHammingPairs]] at that
  * (width, maxDist). Background collisions (base-vs-base bucket hits)
  * affect precision only and are not counted.
  *
  * Emits `SIMHASH_RECALL.json`: recall per (width ∈ 16/21/26/31,
  * maxDist ∈ 2/3, grade), plus the per-bit flip model context (a
  * replaced word shifts each bit's majority vote, so expected flipped
  * bits grow ~linearly with width at fixed edit load — which is WHY
  * fixed-radius recall falls as the width grows).
  */
object SimhashRecall {

  val Widths: Seq[Int] = Seq(16, 21, 26, 31)
  val Radii: Seq[Int] = Seq(2, 3)
  val Grades: Seq[Int] = Seq(1, 2, 4, 8)
  val WordsPerDoc = 40

  private def md5hex(s: String): String = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    d.map(b => f"$b%02x").mkString
  }

  def baseWord(i: Int, slot: Int): String =
    "w" + md5hex(s"simrec_base_${i}_$slot").substring(0, 10)

  def freshWord(i: Int, grade: Int, slot: Int): String =
    "r" + md5hex(s"simrec_var_${i}_${grade}_$slot").substring(0, 10)

  /** (documents(id, text), planted(id_a, id_b, grade)); id_a < id_b by
    * construction (base i is id 100·i, its grade-index-g variant is
    * 100·i + g + 1), matching simhashHammingPairs' emission order.
    */
  def fixture(spark: SparkSession, nBase: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val docs = (0 until nBase).flatMap { i =>
      val base = (0 until WordsPerDoc).map(s => baseWord(i, s))
      val baseRow = (100L * i, base.mkString(" "))
      val variants = Grades.zipWithIndex.map { case (k, g) =>
        val words = base.zipWithIndex.map { case (w, s) =>
          if (s < k) freshWord(i, k, s) else w
        }
        (100L * i + g + 1, words.mkString(" "))
      }
      baseRow +: variants
    }.toDF("id", "text")
    val planted = (0 until nBase).flatMap { i =>
      Grades.zipWithIndex.map { case (k, g) => (100L * i, 100L * i + g + 1, k) }
    }.toDF("id_a", "id_b", "grade")
    (docs, planted)
  }

  /** Planted pairs recovered at one (width, maxDist) cell, joined back
    * to their grade: rows (grade, n_true, n_found).
    */
  def cell(spark: SparkSession, docs: DataFrame, planted: DataFrame,
           width: Int, maxDist: Int): Seq[(Int, Long, Long)] = {
    val sig = DedupOps.withSimhash(docs, "text", "sh", width)
    val found = DedupOps
      .simhashHammingPairs(sig, "id", "sh", maxDist = maxDist, width = width)
      .select(col("id_a"), col("id_b"), lit(1L).as("_hit"))
    planted.join(found, Seq("id_a", "id_b"), "left")
      .groupBy("grade")
      .agg(count(lit(1)).as("n_true"), count(col("_hit")).as("n_found"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
      .toSeq
  }

  def main(args: Array[String]): Unit = {
    val nBase = sys.env.getOrElse("SPARK_GRAFT_RECALL_NBASE", "500").toInt
    val spark = SparkSession.builder()
      .master(s"local[${graft.Host.cpus}]")
      .config("spark.sql.shuffle.partitions",
        graft.Host.cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val (docs, planted) = fixture(spark, nBase)
    val docsM = docs.localCheckpoint()
    val plantedM = planted.localCheckpoint()

    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))

    val cells = for (w <- Widths; r <- Radii) yield {
      val rows = cell(spark, docsM, plantedM, w, r)
      val overallTrue = rows.map(_._2).sum
      val overallFound = rows.map(_._3).sum
      System.err.println(f"[simrec] width=$w%2d maxDist=$r overall=" +
        f"${overallFound.toDouble / overallTrue}%.4f " +
        rows.map(t => f"k${t._1}=${t._3.toDouble / t._2}%.3f").mkString(" "))
      val byGrade = rows.map { case (k, t, f) =>
        s""""k$k":${num(f.toDouble / t)}"""
      }.mkString("{", ",", "}")
      s""""w${w}_d$r":{"overall":${num(overallFound.toDouble / overallTrue)},""" +
        s""""by_grade":$byGrade}"""
    }
    val line =
      s"""{"metric":"simhash_recall","fixture":{"n_base":$nBase,""" +
        s""""words_per_doc":$WordsPerDoc,"grades":[${Grades.mkString(",")}],""" +
        s""""planted_pairs":${nBase * Grades.size},""" +
        s""""note":"grade k = k of $WordsPerDoc distinct words replaced; deterministic md5 tokens, zero RNG"},""" +
        s""""widths":[${Widths.mkString(",")}],"radii":[${Radii.mkString(",")}],""" +
        s""""cells":${cells.mkString("{", ",", "}")}}"""
    println(line)
    System.out.flush()
    try Files.writeString(Paths.get("SIMHASH_RECALL.json"), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[simrec] could not write SIMHASH_RECALL.json: $e")
    }
    spark.stop()
  }
}
