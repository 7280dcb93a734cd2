package graft

import org.apache.spark.sql.functions._
import graft.curve.{Curve, Interpolador}

/** Golden tests from the reference doctests:
  * Interpolador (/root/reference/pyield/interpolador.py:28-53,232-247,383-400)
  * and forwards (/root/reference/pyield/fwd.py:74-146).
  */
class CurveSpec extends SparkSuite {
  test("Interpolador scalar goldens") {
    val dus = Seq(30L, 60L, 90L)
    val txs = Seq(0.045, 0.05, 0.055)
    val lin = new Interpolador(dus, txs, "linear")
    assert(lin(45) == 0.0475)
    val ff = new Interpolador(dus, txs, "flat_forward")
    assert(math.abs(ff(45) - 0.04833068080970859) < 1e-15)
    assert(ff(100).isNaN) // long end, no extrapolation
    assert(ff(-10).isNaN) // invalid input
    val ffx = new Interpolador(dus, txs, "flat_forward", extrapolar = true)
    assert(ffx(100) == 0.055)
    assert(ff(15) == 0.045)  // short end -> first rate
    assert(ff(60) == 0.05)   // exact vertex passthrough
  }

  test("Interpolador.interpolarExpr doctest (15/45/75)") {
    val got = spark.range(1)
      .select(explode(array(lit(15L), lit(45L), lit(75L))).as("du"))
      .withColumn("taxa",
        new Interpolador(Seq(30L, 60L, 90L), Seq(0.045, 0.05, 0.055),
          "flat_forward").interpolarExpr(col("du")))
      .orderBy("du")
      .collect().map(r => BigDecimal(r.getDouble(1))
        .setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble)
    assert(got.toSeq == Seq(0.045, 0.048331, 0.052997))
  }

  test("Curve.interpolate multi-curve doctest (interpolador.py:355-400)") {
    import spark.implicits._
    val targets = Seq(("2025-01-02", 10L), ("2025-01-02", 25L))
      .toDF("data_referencia", "dias_uteis")
    val curva = Seq(("2025-01-02", 5L, 0.10), ("2025-01-02", 20L, 0.12),
      ("2025-01-02", 50L, 0.13)).toDF("data_referencia", "dias_uteis", "taxa")
    val got = Curve.interpolate(targets, "dias_uteis", curva,
        "dias_uteis", "taxa",
        groupT = Seq("data_referencia"), groupC = Seq("data_referencia"))
      .orderBy("dias_uteis")
      .collect().map(r => BigDecimal(r.getDouble(2))
        .setScale(6, BigDecimal.RoundingMode.HALF_EVEN).toDouble)
    assert(got.toSeq == Seq(0.113293, 0.123323))
  }

  test("Curve.interpolate edge contract: short end, long end, exact vertex") {
    import spark.implicits._
    val targets = Seq(1L, 5L, 20L, 60L).toDF("du_alvo")
    val curva = Seq((5L, 0.10), (20L, 0.12), (50L, 0.13)).toDF("du", "tx")
    val rows = Curve.interpolate(targets, "du_alvo", curva, "du", "tx")
      .orderBy("du_alvo").collect()
    assert(rows(0).getDouble(1) == 0.10) // below min -> first rate
    assert(rows(1).getDouble(1) == 0.10) // exact vertex
    assert(rows(2).getDouble(1) == 0.12) // exact vertex
    assert(rows(3).isNullAt(1))          // beyond max, no extrapolation
    val rowsX = Curve.interpolate(targets, "du_alvo", curva, "du", "tx",
        extrapolate = true).orderBy("du_alvo").collect()
    assert(rowsX(3).getDouble(1) == 0.13)
  }

  test("forwards null cascade doctests (fwd.py:294-329)") {
    import spark.implicits._
    // null du affects only its own row (nulls sort last)
    val withNullDu = Seq((Some(230L), Some(0.0943)), (Some(415L), Some(0.084099)),
      (Some(730L), Some(0.079052)), (None: Option[Long], Some(0.1)),
      (Some(914L), Some(0.077134)))
      .toDF("du", "tx")
      .withColumn("fwd", round(Curve.forwards(col("du"), col("tx"), lit(0)), 6))
      .orderBy(col("du").asc_nulls_last).collect()
    assert(withNullDu.map(r => if (r.isNullAt(2)) null else r.getDouble(2)).toSeq
      == Seq(0.0943, 0.071549, 0.072439, 0.069558, null))

    // null tx cascades exactly one row downstream
    val withNullTx = Seq((230L, Some(0.0943)), (415L, None: Option[Double]),
      (730L, Some(0.079052)), (914L, Some(0.077134)))
      .toDF("du", "tx")
      .withColumn("fwd", round(Curve.forwards(col("du"), col("tx"), lit(0)), 6))
      .orderBy("du").collect()
    assert(withNullTx.map(r => if (r.isNullAt(2)) null else r.getDouble(2)).toSeq
      == Seq(0.0943, null, null, 0.069558))
  }

  test("forwards doctest incl. spot and duplicate-vertex null cascade") {
    import spark.implicits._
    // fwd.py:74-99 two-curve example
    val df = Seq(
      ("2025-01-02", 10L, 0.05), ("2025-01-02", 20L, 0.06),
      ("2025-01-02", 30L, 0.07),
      ("2025-01-03", 10L, 0.06), ("2025-01-03", 20L, 0.07),
      ("2025-01-03", 30L, 0.08)).toDF("dr", "du", "tx")
    val got = df.withColumn("fwd",
        round(Curve.forwards(col("du"), col("tx"), col("dr")), 6))
      .orderBy("dr", "du").collect().map(_.getDouble(3))
    assert(got.toSeq == Seq(0.05, 0.070095, 0.090284,
      0.06, 0.080094, 0.100281))

    // fwd.py:116-146 duplicate vertices: group 2 has dup du=20 -> all three
    // of (20, 20, 30) null; group 1 untouched.
    val df2 = Seq(
      ("a", 10L, 0.05), ("a", 20L, 0.06), ("a", 30L, 0.07),
      ("b", 10L, 0.05), ("b", 20L, 0.06), ("b", 20L, 0.061),
      ("b", 30L, 0.07)).toDF("dr", "du", "tx")
    val got2 = df2.withColumn("fwd",
        round(Curve.forwards(col("du"), col("tx"), col("dr")), 6))
      .orderBy("dr", "du", "tx").collect()
    assert(got2(0).getDouble(3) == 0.05)
    assert(got2(1).getDouble(3) == 0.070095)
    assert(got2(2).getDouble(3) == 0.090284)
    assert(got2(3).getDouble(3) == 0.05)
    assert(got2(4).isNullAt(3) && got2(5).isNullAt(3) && got2(6).isNullAt(3))
  }
}
