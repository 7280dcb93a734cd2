package graft

import org.apache.spark.sql.functions._
import graft.datasets.BcLeiloes

/** BCB auction pipeline vs the reference golden
  * (tests/bc/test_leiloes.py:20-33).
  */
class BcLeiloesSpec extends SparkSuite {
  test("bc leiloes pipeline matches golden parquet") {
    import spark.implicits._
    val base = BcLeiloes.lerCsv(spark,
      "/root/reference/tests/bc/data/leiloes_20250819.csv")
    val ptax = Seq(("2025-08-19", 5.4716)).toDF("data_ref", "ptax")
      .select(to_date(col("data_ref")).as("data_ref"), col("ptax"))
    val got = BcLeiloes.comPtax(base, ptax)
    val want = spark.read.parquet(
      "/root/reference/tests/bc/data/leiloes_20250819.parquet")

    assert(got.columns.toSeq == want.columns.toSeq)
    val g = got.collect()
    val w = want.orderBy(col("data_leilao"), col("tipo_leilao"),
      col("titulo"), col("data_vencimento")).collect()
    assert(g.length == w.length, s"${g.length} vs ${w.length}")
    want.schema.fields.zipWithIndex.foreach { case (f, i) =>
      g.zip(w).foreach { case (rg, rw) =>
        val (a, b) = (rg.get(i), rw.get(i))
        (a, b) match {
          case (null, null) =>
          case (x: Double, y: Double) =>
            assert((x.isNaN && y.isNaN) ||
              math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)),
              s"${f.name}: $x vs $y")
          case _ => assert(a != null && b != null && a.toString == b.toString,
            s"${f.name}: $a vs $b")
        }
      }
    }
  }
}
