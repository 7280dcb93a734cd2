package graft

/** The custom expressions are usable from plain SQL after registration. */
class SqlRegistrationSpec extends SparkSuite {
  test("bday_count/is_bday/add_bdays/round_even from spark.sql") {
    graft.functions.registerSql(spark)
    val row = spark.sql("""
      SELECT bday_count(DATE'2023-12-15', DATE'2024-01-01') AS c,
             is_bday(DATE'2023-12-25') AS b,
             CAST(add_bdays(DATE'2023-12-23', 0) AS STRING) AS roll,
             round_even(CAST(470198680.075 AS DOUBLE), 2) AS r
    """).head()
    assert(row.getLong(0) == 10L)
    assert(!row.getBoolean(1))
    assert(row.getString(2) == "2023-12-26")
    assert(row.getDouble(3) == 4.7019868008e8)
  }

  test("bday_range array column") {
    import org.apache.spark.sql.functions._
    val n = spark.range(1).select(
      size(graft.functions.bday_range(lit("2023-12-22"), lit("2024-01-02"))))
      .head().getInt(0)
    assert(n == 6) // du.gerar doctest: 6 business days in that window
  }
}
