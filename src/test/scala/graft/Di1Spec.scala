package graft

import org.apache.spark.sql.functions._
import graft.curve.Interpolador
import graft.datasets.{Di1, Futuro}

/** DI1 curve analytics over the reference boletim fixture: the vectorized
  * relational interpolation must agree with the scalar Interpolador on the
  * same curve (the reference's expr⇄scalar parity contract,
  * tests/tpf/test_expr_titulos.py style).
  */
class Di1Spec extends SparkSuite {
  private lazy val di1 = Futuro.enriquecer(
    spark.read.parquet(
      "/root/reference/tests/b3/data/boletim_negociacao_20230202_DI1.parquet"),
    "DI1").cache()

  test("exact-vertex interpolation returns the settlement rate") {
    val v = di1.orderBy("dias_uteis").select("data_vencimento", "taxa_ajuste")
      .collect()(3)
    val got = Di1.interpolarTaxa(spark, di1, "2023-02-02",
      v.getDate(0).toString)
    assert(got == v.getDouble(1))
  }

  test("mid-curve interpolation matches scalar Interpolador") {
    val curve = di1.select("dias_uteis", "taxa_ajuste")
      .orderBy("dias_uteis").collect()
    val interp = new Interpolador(
      curve.map(_.getLong(0)).toSeq, curve.map(_.getDouble(1)).toSeq,
      "flat_forward", extrapolar = true)
    // target halfway between 4th and 5th vertex, via a real calendar date
    import graft.core.BrCalendar
    val ref = java.time.LocalDate.parse("2023-02-02")
    val duTarget = (curve(3).getLong(0) + curve(4).getLong(0)) / 2
    val venc = BrCalendar.deslocar(ref, duTarget.toInt) // du business days out
    val duCheck = BrCalendar.contar(ref, venc)
    val got = Di1.interpolarTaxa(spark, di1, "2023-02-02", venc.toString)
    assert(math.abs(got - interp(duCheck)) < 1e-14)
  }

  test("beyond the long end: null without extrapolation, last rate with") {
    val no = Di1.interpolarTaxa(spark, di1, "2023-02-02", "2090-01-01",
      extrapolar = false)
    assert(no.isNaN)
    val yes = Di1.interpolarTaxa(spark, di1, "2023-02-02", "2090-01-01",
      extrapolar = true)
    val lastTx = di1.orderBy(col("dias_uteis").desc)
      .select("taxa_ajuste").head().getDouble(0)
    assert(yes == lastTx)
  }

  test("dados: month-start truncation") {
    val truncated = Di1.dados(di1, inicioMes = true)
    import spark.implicits._
    val days = truncated.select(dayofmonth(col("data_vencimento")))
      .distinct().as[Int].collect().toSeq
    assert(days == Seq(1))
  }
}
