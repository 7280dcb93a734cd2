package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.datasets.{Contratos, Futuro}

/** End-to-end futures enrichment vs the reference's canonical goldens:
  * my enrichment over the reference's own raw boletim fixtures must
  * reproduce futuro_YYYYMMDD_*.parquet (the reference compares at
  * rel_tol=1e-4, tests/b3/test_pipeline_futuro.py:85-95; the raw input
  * here is identical so we hold a tighter 1e-9).
  */
class FuturoSpec extends SparkSuite {
  private val b3 = "/root/reference/tests/b3/data"

  test("vencimento_expr doctests (contratos.py:70-153)") {
    import spark.implicits._
    val df = Seq("DI1F25", "di1g25", "DI1E27").toDF("codigo")
    val got = df.select(
      Contratos.vencimentoExpr(col("codigo"), "DI1").cast("string"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    assert(got.toSeq == Seq("2025-01-02", "2025-02-03", null))

    val dap = Seq("DAPF25").toDF("codigo")
      .select(Contratos.vencimentoExpr(col("codigo"), "DAP").cast("string"))
      .collect().head.getString(0)
    assert(dap == "2025-01-15")
  }

  private def compare(got: DataFrame, want: DataFrame): Unit = {
    assert(want.columns.forall(got.columns.contains),
      s"missing: ${want.columns.filterNot(got.columns.contains).toSeq}")
    val g = got.select(want.columns.map(col): _*)
      .orderBy(col("codigo_negociacao")).collect()
    val w = want.orderBy(col("codigo_negociacao")).collect()
    assert(g.length == w.length, s"rows ${g.length} vs ${w.length}")
    val schema = want.schema
    g.zip(w).foreach { case (rg, rw) =>
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        val (a, b) = (rg.get(i), rw.get(i))
        (a, b) match {
          case (null, null) =>
          case (x: Double, y: Double) =>
            assert(math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)),
              s"${f.name}: $x vs $y @ ${rw.get(1)}")
          case _ =>
            assert(a != null && a.toString == b.toString,
              s"${f.name}: $a vs $b @ ${rw.get(1)}")
        }
      }
    }
  }

  for {
    data <- Seq("20230202", "20250203", "20260112")
    contrato <- Seq("DI1", "DAP", "FRC", "DOL", "WIN")
  } test(s"futuro enrichment matches golden ($data $contrato)") {
    val raw = spark.read.parquet(s"$b3/boletim_negociacao_${data}_$contrato.parquet")
    val got = Futuro.enriquecer(raw, contrato)
    val want = spark.read.parquet(s"$b3/futuro_${data}_$contrato.parquet")
    compare(got, want)
  }
}
