package graft

import java.time.LocalDate
import org.apache.spark.sql.functions._
import graft.core.{BrCalendar, Num}
import graft.functions._

/** Expression ⇄ scalar parity (the reference's test category 3,
  * tests/tpf/test_expr_titulos.py) plus calendar/number properties.
  */
class ParitySpec extends SparkSuite {
  private val rng = new scala.util.Random(42)

  private val epochLo = LocalDate.of(1995, 1, 1).toEpochDay.toInt
  private val epochHi = LocalDate.of(2035, 1, 1).toEpochDay.toInt
  private def randDay(): Int = epochLo + rng.nextInt(epochHi - epochLo)

  test("Column bday_count/bday_add/is_bday equal the scalar calendar") {
    import spark.implicits._
    val pairs = (for {
      _ <- 1 to 300
    } yield {
      val a = epochLo + scala.util.Random.nextInt(epochHi - epochLo)
      val b = epochLo + scala.util.Random.nextInt(epochHi - epochLo)
      (LocalDate.ofEpochDay(a.toLong).toString, LocalDate.ofEpochDay(b.toLong).toString)
    }).toSeq
    val df = pairs.toDF("a", "b")
      .select(to_date(col("a")).as("a"), to_date(col("b")).as("b"))
      .withColumn("cnt", bday_count(col("a"), col("b")))
      .withColumn("shift", bday_add(col("a"), lit(3)))
      .withColumn("isb", is_bday(col("a")))
      .collect()
    df.foreach { r =>
      val (a, b) = (r.getDate(0).toLocalDate, r.getDate(1).toLocalDate)
      assert(r.getLong(2) == BrCalendar.contar(a, b))
      assert(r.getDate(3).toLocalDate == BrCalendar.deslocar(a, 3))
      assert(r.getBoolean(4) == BrCalendar.ehDiaUtil(a))
    }
  }

  test("property: contar antisymmetry and interval additivity") {
    for (_ <- 1 to 2000) {
      val (x, y, z) = (randDay(), randDay(), randDay())
      assert(BrCalendar.contar(x, y) == -BrCalendar.contar(y, x) ||
        // antisymmetry can break across the regime boundary (the anchor
        // changes): assert it only when both anchors share a regime
        (x < BrCalendar.TransitionEpochDay) !=
          (y < BrCalendar.TransitionEpochDay))
      val Seq(a, b, c) = Seq(x, y, z).sorted
      if ((a < BrCalendar.TransitionEpochDay) ==
          (b < BrCalendar.TransitionEpochDay)) {
        assert(BrCalendar.contar(a, b) + BrCalendar.contar(b, c) ==
          BrCalendar.contar(a, c))
      }
    }
  }

  test("property: deslocar lands on business days; roll(0) is idempotent") {
    for (_ <- 1 to 2000) {
      val (d, n) = (randDay(), rng.nextInt(81) - 40)
      val out = BrCalendar.deslocar(d, n, rollForward = true)
      assert(BrCalendar.ehDiaUtil(out) ||
        // the rolled day is a bday under the ORIGINAL date's regime, which
        // may differ from its own regime near the transition
        math.abs(out - BrCalendar.TransitionEpochDay) < 40)
      val rolled = BrCalendar.deslocar(d, 0, rollForward = true)
      assert(BrCalendar.deslocar(rolled, 0, rollForward = true) == rolled ||
        math.abs(rolled - BrCalendar.TransitionEpochDay) < 40)
    }
  }

  test("property: truncar moves toward zero by < 10^-d; round_even within half-step") {
    for (_ <- 1 to 2000) {
      val (x, d) = ((rng.nextDouble() - 0.5) * 2e6, rng.nextInt(11))
      val t = Num.truncar(x, d)
      assert(math.abs(t) <= math.abs(x) + 1e-12)
      assert(math.abs(x - t) < math.pow(10.0, -d) + 1e-12)
      val r = Num.roundPolars(x, d)
      assert(math.abs(x - r) <= math.pow(10.0, -d) / 2 + 1e-9)
    }
  }

  test("truncate/round_even Columns equal their scalar twins") {
    import spark.implicits._
    val xs = Seq(3.14159, 8.2, -2.675, 470198680.075, 0.0045, -0.00449999)
    val rows = xs.toDF("x")
      .withColumn("t6", truncate(col("x"), 6))
      .withColumn("r2", round_even(col("x"), 2))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(1) == Num.truncar(r.getDouble(0), 6))
      assert(r.getDouble(2) == Num.roundPolars(r.getDouble(0), 2))
    }
  }
}
