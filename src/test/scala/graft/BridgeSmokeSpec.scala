package graft

import org.apache.spark.sql.functions._

/** Construction smoke for every bridge-built Column API (the r7 bug
  * class: an aggregate that works when the analyzer hands its SQL
  * builder a real `Literal` but THROWS when the Column bridge hands it
  * an unresolved `ColumnNodeExpression` — `foldable`/`eval` are not
  * available pre-analysis). CORRECTNESS can't see this: the board
  * queries prefer the relational forms, so the Column path of a new
  * aggregate can ship broken with a green board. This spec instantiates
  * each public Column builder over a 2-row frame and forces evaluation;
  * any constructor-time `require` on an unresolved child fails HERE.
  */
class BridgeSmokeSpec extends SparkSuite {
  private def texts = {
    import spark.implicits._
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
  }

  private def vecs = {
    import spark.implicits._
    Seq((1L, Array(1.0f, 0.0f, 2.0f, -1.0f)),
      (2L, Array(0.5f, 1.0f, -0.5f, 2.0f)))
      .toDF("vec_id", "embedding")
  }

  // ------------------------------------------------------------- aggregates

  test("Dd.ddQuantile constructs via the Column bridge and evaluates") {
    import graft.dedup.Dd
    val r = texts.agg(Dd.ddQuantile(col("doc_id") * 100, 0.50).as("p50"),
      Dd.ddQuantile(col("doc_id") * 100, 0.995).as("p995")).collect()(0)
    assert(r.getLong(0) == 96L) // bucket lb of c=100 (octave 7, sub 12)
    assert(r.getLong(1) == 192L) // c=200: (200*8) div 128 = 12, lb 12·16
  }

  test("Dd.ddQuantile rejects out-of-range quantiles at construction") {
    import graft.dedup.Dd
    intercept[IllegalArgumentException] {
      texts.agg(Dd.ddQuantile(col("doc_id"), 0.0)).collect()
    }
    intercept[IllegalArgumentException] {
      texts.agg(Dd.ddQuantile(col("doc_id"), 1.5)).collect()
    }
  }

  test("Dd.bucketLb clamps negative cents to bucket 0 in all dialects") {
    import graft.dedup.Dd
    assert(Dd.bucketLb(-17L) == 0L)
    assert(Dd.bucketLb(-1L) == 0L)
    val r = spark.sql(
      s"SELECT ${Dd.bucketLbSqlExpr("c")} AS lb FROM VALUES " +
        "(CAST(-17 AS BIGINT)), (CAST(-1 AS BIGINT)), " +
        "(CAST(500 AS BIGINT)) AS t(c) ORDER BY lb").collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(0L, 0L, 480L))
    assert(Dd.bucketLbDuckSql("c").contains("greatest(c, 0)"))
  }

  test("Kmv.kmvDistinct constructs and evaluates") {
    import graft.dedup.Kmv
    val r = texts.agg(Kmv.kmvDistinct(Kmv.hash52(col("text")), 64)).collect()
    assert(r(0).getDouble(0) == 2.0) // below k → exact count
  }

  test("Hll.hllDistinct / hllRegisters / hllFold construct and evaluate") {
    import graft.dedup.Hll
    val est = texts.agg(Hll.hllDistinct(Hll.md5Hex(col("text")))).collect()
    assert(est(0).getDouble(0) > 0.0)
    val regs = texts.agg(Hll.hllRegisters(Hll.md5Hex(col("text"))).as("r"))
    val folded = regs.agg(Hll.hllFold(col("r"))).collect()
    assert(folded(0).getDouble(0) > 0.0)
  }

  test("TopKByScore constructs via rankedTopK and directly") {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val scored = texts.select(col("doc_id"),
      col("doc_id").cast("double").as("score"))
    val ranked = graft.text.Retrieval.rankedTopK(scored, 2).collect()
    assert(ranked.length == 2 && ranked.head.getLong(0) == 2L)
    val direct = scored.agg(column(graft.sim.TopKByScore(
      expression(col("score")), expression(col("doc_id")), 1)
      .toAggregateExpression())).collect()
    assert(direct(0).getSeq[Any](0).length == 1)
  }

  // ------------------------------------------------------------ expressions

  test("MinHashSig / SimHashSig / NGram family construct and evaluate") {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    import graft.dedup._
    val r = DedupOps.withSimhash16(texts, "text", "sh")
      .select(col("sh"),
        column(MinHashSig(expression(col("text")), 5, 8)).as("mh"),
        column(NGramArray(expression(col("text")), 3)).as("g3"),
        column(NGramHashArray(expression(col("text")), 3)).as("gh3"),
        column(NGramJaccard(expression(col("text")),
          expression(col("text")), 3)).as("jac"))
      .withColumn("sj", column(SortedArraysJaccard(
        expression(col("gh3")), expression(col("gh3")))))
      .collect()
    r.foreach { row =>
      assert(row.getSeq[Long](row.fieldIndex("mh")).length == 8)
      assert(row.getSeq[String](row.fieldIndex("g3")).nonEmpty)
      assert(row.getDouble(row.fieldIndex("jac")) == 1.0)
      assert(row.getDouble(row.fieldIndex("sj")) == 1.0)
    }
  }

  test("NGramArray emits one clamped gram for docs shorter than n " +
    "(GramMemo.leak parity with the oracle's greatest() clamp)") {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    import spark.implicits._
    val short = Seq((1L, "two words"), (2L, "one")).toDF("doc_id", "text")
    val viaExpr = short.select(col("doc_id"),
      size(column(graft.dedup.NGramArray(expression(col("text")), 3)))
        .as("n")).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaExpr(1L) == 1 && viaExpr(2L) == 1)
  }

  test("DotCosine / HyperplaneSketch16 / QuantizeInt8 construct and evaluate") {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    import graft.sim._
    val r = vecs.select(
      Similarity.cosine(col("embedding"), col("embedding")).as("cos"),
      Similarity.hyperplaneSketch16(col("embedding"), 4).as("sk"),
      column(QuantizeInt8(expression(col("embedding")))).as("q8"))
      .collect()
    r.foreach { row =>
      assert(math.abs(row.getDouble(row.fieldIndex("cos")) - 1.0) < 1e-9)
      assert(!row.isNullAt(row.fieldIndex("sk")))
      assert(!row.isNullAt(row.fieldIndex("q8")))
    }
  }

  test("RollingMinHash / TextStats / TrigramLmScore / ByteHistogram16 " +
    "construct and evaluate") {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val r = texts
      .select(col("doc_id"), col("text"),
        to_binary(col("text"), lit("utf-8")).as("payload"))
      .select(
        column(graft.text.RollingMinHash(expression(col("payload")),
          k = 8, base = 31L, mod = 2147483647L)).as("rmh"),
        graft.text.TextOps.textStats(col("text")).as("st"),
        column(graft.text.TrigramLmScore(
          expression(graft.text.TextOps.normalize(col("text"))),
          Array("the", "qui"), Array(-1.0, -2.0), -9.0)).as("lm"),
        column(graft.multimodal.ByteHistogram16(
          expression(col("payload")))).as("bh"))
      .collect()
    r.foreach { row =>
      assert(!row.isNullAt(row.fieldIndex("rmh")))
      assert(!row.isNullAt(row.fieldIndex("st")))
      assert(row.getStruct(row.fieldIndex("lm")).getLong(0) > 0)
      assert(row.getSeq[Long](row.fieldIndex("bh")).length == 16)
    }
  }

  test("calendar and numeric function builders construct and evaluate") {
    import graft.functions.{bday_count, bday_add, is_bday, bday_range,
      truncate, round_even}
    import spark.implicits._
    val d = Seq(("2024-01-02", "2024-01-10", 1.23456)).toDF("a", "b", "x")
    val r = d.select(
      bday_count(col("a"), col("b")).as("n"),
      bday_add(col("a"), lit(3)).as("d3"),
      is_bday(col("a")).as("ib"),
      bday_range(col("a"), col("b")).as("rng"),
      truncate(col("x"), 2).as("tr"),
      round_even(col("x"), 2).as("re")).collect()(0)
    assert(r.getLong(r.fieldIndex("n")) == 6L)
    assert(r.getBoolean(r.fieldIndex("ib")))
    assert(r.getSeq[java.sql.Date](r.fieldIndex("rng")).length == 7)
    assert(r.getDouble(r.fieldIndex("tr")) == 1.23)
    assert(r.getDouble(r.fieldIndex("re")) == 1.23)
  }

  test("minhashOfShingles / shingleArray construct and evaluate") {
    import graft.dedup.DedupOps
    val r = texts.select(
      DedupOps.minhashOfShingles(
        DedupOps.shingleArray(col("text"), 5), 3).as("mh")).collect()
    r.foreach(row => assert(row.getString(0).length == 8))
  }
}
