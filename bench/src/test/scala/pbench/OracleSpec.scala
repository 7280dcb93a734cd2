package pbench

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class OracleSpec extends AnyFunSuite {

  private def table(cols: String*)(rows: Seq[Any]*) =
    Oracle.Table(cols, rows.map(_.toVector))
  private def J(x: Long) = java.lang.Long.valueOf(x)
  private def D(x: Double) = java.lang.Double.valueOf(x)

  test("row order does not matter") {
    val a = table("k", "v")(Seq(J(1), "a"), Seq(J(2), "b"), Seq(null, "c"))
    val b = table("k", "v")(Seq(null, "c"), Seq(J(2), "b"), Seq(J(1), "a"))
    assert(Oracle.compare(a, b).ok)
  }

  test("columns compare by sorted name") {
    val spark = Oracle.fromSpark(Seq("z", "a"), Seq(Row(1L, "x")))
    assert(spark.columns == Seq("a", "z"))
    assert(spark.rows == Seq(Vector("x", J(1))))
    val r = Oracle.compare(spark, table("a", "y")(Seq("x", J(1))))
    assert(!r.ok && r.message.startsWith("SCHEMA"))
  }

  test("NULLs: equal to NULL and to NaN, never to a value") {
    assert(Oracle.compare(table("v")(Seq(null)), table("v")(Seq(null))).ok)
    assert(Oracle.compare(table("v")(Seq(D(Double.NaN))), table("v")(Seq(null))).ok)
    assert(!Oracle.compare(table("v")(Seq(null)), table("v")(Seq(J(0)))).ok)
    assert(!Oracle.compare(table("v")(Seq("")), table("v")(Seq(null))).ok)
  }

  test("row count and value mismatches are reported") {
    val r1 = Oracle.compare(table("v")(Seq(J(1))), table("v")(Seq(J(1)), Seq(J(2))))
    assert(!r1.ok && r1.message.startsWith("ROWS"))
    val r2 = Oracle.compare(table("v")(Seq("a")), table("v")(Seq("b")))
    assert(!r2.ok && r2.message.startsWith("VALUES col=v"))
  }

  test("integral and floating values compare numerically") {
    assert(Oracle.compare(table("v")(Seq(J(5))), table("v")(Seq(D(5.0)))).ok)
    assert(!Oracle.compare(table("v")(Seq(J(5))), table("v")(Seq(D(5.5)))).ok)
  }

  test("floating values compare exactly; arrays element-wise") {
    val x = 0.8234907654321
    assert(!Oracle.compare(table("v")(Seq(D(math.nextUp(x)))), table("v")(Seq(D(x)))).ok)
    val e = table("v")(Seq(Vector(J(1), D(2.0))))
    assert(Oracle.compare(table("v")(Seq(Vector(J(1), D(2.0)))), e).ok)
    assert(!Oracle.compare(table("v")(Seq(Vector(J(1), D(math.nextUp(2.0))))), e).ok)
    assert(!Oracle.compare(table("v")(Seq(Vector(J(1)))), e).ok)
  }

  test("canonical Spark values") {
    assert(Oracle.canon(3) == J(3))
    assert(Oracle.canon(2.5f) == D(2.5))
    assert(Oracle.canon(new java.math.BigDecimal("1.25")) == D(1.25))
    assert(Oracle.canon(java.sql.Timestamp.from(java.time.Instant.parse("2024-01-02T03:04:05.000006Z")))
      == "2024-01-02 03:04:05.000006")
    assert(Oracle.canon(java.time.LocalDate.of(2024, 1, 2)) == "2024-01-02")
    assert(Oracle.canon(Seq(1L, 2L)) == Vector(J(1), J(2)))
    assertThrows[IllegalArgumentException](Oracle.canon(Map(1 -> 2)))
  }

  test("oracle JSON reads back to the same canonical values") {
    val m = new ObjectMapper()
    m.enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS.mappedFeature())
    val v = Oracle.fromJson(m.readTree("""[1, 0.1, null, "x", true, [2, 2.5], NaN, 12345678901234567890]"""))
    val xs = v.asInstanceOf[Vector[Any]]
    assert(xs.patch(6, Nil, 1) == Vector(J(1), D(0.1), null, "x", java.lang.Boolean.TRUE,
      Vector(J(2), D(2.5)), D(1.2345678901234567e19)))
    assert(xs(6).asInstanceOf[java.lang.Double].isNaN)
  }
}
