package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sim.TopKByScore

/** Property check of the bounded top-k aggregate against the windowed
  * row_number reference on random data (ties, duplicate scores, negative
  * values, groups smaller than k).
  */
class TopKAggSpec extends SparkSuite {
  test("TopKByScore == row_number window top-k on random groups") {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val k = 5
    // 40 groups of varying size incl. tiny ones; scores drawn from a small
    // set so ties are frequent
    val rows = for {
      g <- 0 until 40
      n = 1 + rng.nextInt(30)
      i <- 0 until n
    } yield (g.toLong, rng.nextInt(8).toDouble - 3.0, rng.nextLong().abs % 1000)
    val df = rows.toDF("g", "score", "id")
      .dropDuplicates("g", "id") // unique ids per group for a total order

    val agg = column(TopKByScore(expression(col("score")),
      expression(col("id")), k).toAggregateExpression())
    val fast = df.groupBy(col("g")).agg(agg.as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), col("col.id").as("id"), col("col.score").as("score"),
        (col("pos") + 1).cast("long").as("rnk"))

    val w = Window.partitionBy(col("g"))
      .orderBy(col("score").desc, col("id").asc)
    val ref = df.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("g"), col("id"), col("score"), col("rnk"))

    // collected-set compare (exceptAll over the window plan trips an
    // INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND rewrite bug in Spark 4.1)
    def collected(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).toSet
    val (f, r) = (collected(fast), collected(ref))
    assert(f == r, s"diff: ${(f diff r).take(5)} vs ${(r diff f).take(5)}")
    assert(f.nonEmpty)
  }
}
