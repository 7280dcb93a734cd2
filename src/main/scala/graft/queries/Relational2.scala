package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Second batch of relational coverage: wide→long unpivot (the RMD report
  * shape, SURVEY S15), rollup aggregation, exact distinct counts.
  */
object Relational2 {

  type Q = (SparkSession, String) => DataFrame
  import Tables._

  // q26 — unpivot/melt (wide month-columns → long rows, RMD style)
  private val q26: Q = (s, d) =>
    part(s, d)
      .select(col("p_partkey"),
        col("p_retailprice").as("retail_price"),
        col("p_size").cast("double").as("size_units"))
      .unpivot(Array(col("p_partkey")),
        Array(col("retail_price"), col("size_units")),
        "metric", "value")
      .orderBy(col("p_partkey"), col("metric"))

  private val q26Sql = """
    SELECT p_partkey, 'retail_price' AS metric, p_retailprice AS value
    FROM part
    UNION ALL
    SELECT p_partkey, 'size_units' AS metric, CAST(p_size AS DOUBLE) AS value
    FROM part
    ORDER BY p_partkey, metric"""

  // q27 — rollup: revenue per (returnflag, linestatus) with subtotals
  private val q27: Q = (s, d) =>
    lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("revenue"), col("n"))
      .orderBy(col("flag"), col("status"))

  private val q27Sql = """
    SELECT coalesce(l_returnflag, 'ALL') AS flag,
           coalesce(l_linestatus, 'ALL') AS status,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY flag, status"""

  // q28 — exact distinct counts per group. r12 shape (guide §2.2,
  // VERDICT r11 item 6): three count-distincts in one agg plan as an
  // Expand(3×) — every lineitem row tripled into a single exchange.
  // The two-level rewrite runs one dedup-then-count chain per key set:
  // three narrow scans and three exchanges of PRE-DEDUPED key rows
  // instead of one exchange of 3× raw rows. Measured (PROBE_Q28.json,
  // lineitem itself inflated since the ladder symlinks it): expand
  // 1.61/2.41/6.10 s vs split 1.13/1.83/4.41 s at ×1/×10/×30 — the
  // Expand loses at every rung and the gap widens with scale.
  // Equivalence: countDistinct skips NULL keys, hence the isNotNull
  // guards. A group whose keys of one branch are all NULL has no row in
  // that branch, so every count is left-joined onto the spine of all
  // l_returnflag values (null-safe, as GROUP BY keeps a NULL flag) and
  // a missing count reads 0, exactly as countDistinct reports it.
  private val q28: Q = (s, d) => {
    val li = lineitem(s, d)
    val flag = "l_returnflag"
    def dcount(keys: Seq[String], alias: String) =
      li.select((flag +: keys).map(col): _*)
        .filter(keys.map(col(_).isNotNull).reduce(_ && _))
        .groupBy((flag +: keys).map(col): _*).agg(lit(1))
        .groupBy(col(flag)).agg(count(lit(1)).as(alias))
        .withColumnRenamed(flag, "_flag")
    Seq("n_orders" -> Seq("l_orderkey"), "n_parts" -> Seq("l_partkey"),
        "n_supp_part" -> Seq("l_suppkey", "l_partkey"))
      .foldLeft(li.select(col(flag)).distinct()) { case (acc, (alias, keys)) =>
        acc.join(dcount(keys, alias), col(flag) <=> col("_flag"), "left")
          .drop("_flag")
          .withColumn(alias, coalesce(col(alias), lit(0L)))
      }
      .orderBy(col(flag))
  }

  private val q28Sql = """
    SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS n_orders,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT CASE WHEN l_suppkey IS NOT NULL
                                AND l_partkey IS NOT NULL
                               THEN (l_suppkey, l_partkey) END) AS n_supp_part
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  // q29 — salted aggregation over the (skewed in real data) order-status
  // key: the two-phase salt must be invisible in the result
  private val q29: Q = (s, d) =>
    graft.ops.Salt.saltedAgg(
        orders(s, d).select(col("o_orderstatus"), col("o_totalprice")),
        Seq("o_orderstatus"),
        Seq(("o_totalprice", "sum", "total_raw"), ("o_totalprice", "count", "n")))
      .select(col("o_orderstatus"), round(col("total_raw"), 2).as("total"),
        col("n"))
      .orderBy(col("o_orderstatus"))

  private val q29Sql = """
    SELECT o_orderstatus, round(sum(o_totalprice), 2) AS total,
           count(o_totalprice) AS n
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  val queries: Map[String, Q] = Map(
    "q29_salted_agg" -> q29,
    "q26_unpivot_long" -> q26,
    "q27_rollup" -> q27,
    "q28_distinct_counts" -> q28)

  val oracleSql: Map[String, String] = Map(
    "q29_salted_agg" -> q29Sql,
    "q26_unpivot_long" -> q26Sql,
    "q27_rollup" -> q27Sql,
    "q28_distinct_counts" -> q28Sql)
}
