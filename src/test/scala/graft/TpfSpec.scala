package graft

import org.apache.spark.sql.functions._
import graft.datasets.{Futuro, Tpf}
import graft.sources.AnbimaTaxas

/** EP2 composition over the reference's own fixtures: ANBIMA indicative
  * rates (2026-02-06) enriched with duration/DV01 and DI rates
  * interpolated from the 2026-01-12 boletim curve.
  */
class TpfSpec extends SparkSuite {
  private lazy val tpfFull = AnbimaTaxas.ler(spark,
    "/root/reference/tests/tpf/data/tpf_20260206.txt")
  private lazy val di1 = Futuro.enriquecer(
    spark.read.parquet(
      "/root/reference/tests/b3/data/boletim_negociacao_20260112_DI1.parquet"),
    "DI1").cache()

  test("ntnb.dados composition: duration/dv01/taxa_di/premio populated") {
    val ntnb = AnbimaTaxas.taxas(tpfFull, "IPCA")
    val out = Tpf.ntnbDados(ntnb, di1).cache()
    assert(out.count() == ntnb.count())
    assert(out.filter(col("duration").isNull).count() == 0)
    assert(out.filter(col("dv01") <= 0).count() == 0)
    assert(out.filter(col("taxa_di").isNull).count() == 0) // extrapolated
    // duration sanity: below the time to maturity, positive
    assert(out.filter(col("duration") > col("dias_uteis") / lit(252.0) + 1e-9)
      .count() == 0)
  }

  test("premios_pre: LTN premium equals indicative minus interpolated DI") {
    val pre = AnbimaTaxas.taxas(tpfFull, "PRE")
    val premios = Tpf.premiosPre(pre, di1, pontosBase = true)
    assert(premios.count() == pre.count())
    assert(premios.columns.toSeq == Seq("titulo", "data_vencimento", "premio"))
    // premium magnitudes are bps-scale (the two fixture dates differ by a
    // month, so values are larger than same-day premia but still bounded)
    assert(premios.filter(abs(col("premio")) > 500).count() == 0)
  }
}
