package graft

import org.apache.spark.sql.functions._
import graft.datasets.Leiloes

/** Auction pipeline vs the reference golden: the enrichment over the raw
  * API JSON fixture plus the pinned PTAX frame must reproduce
  * leilao_20251023.parquet (tests/tpf/test_leilao.py:30-44).
  */
class LeiloesSpec extends SparkSuite {
  test("leiloes pipeline matches golden parquet") {
    import spark.implicits._
    val base = Leiloes.lerJson(spark,
      "/root/reference/tests/tpf/data/leilao_20251023.json")
    val ptax = Seq(("2025-10-22", 5.3898), ("2025-10-23", 5.384),
      ("2025-10-24", 5.3797)).toDF("data_ref", "ptax")
      .select(to_date(col("data_ref")).as("data_ref"), col("ptax"))
    val got = Leiloes.enriquecer(base, ptax)
    val want = spark.read.parquet(
      "/root/reference/tests/tpf/data/leilao_20251023.parquet")

    assert(got.columns.toSeq == want.columns.toSeq,
      s"cols:\n${got.columns.toSeq}\n${want.columns.toSeq}")
    val g = got.collect()
    val w = want.orderBy(col("data_1v"), col("titulo"),
      col("data_vencimento")).collect()
    assert(g.length == w.length)
    val fields = want.schema.fields
    g.zip(w).foreach { case (rg, rw) =>
      fields.zipWithIndex.foreach { case (f, i) =>
        val (a, b) = (rg.get(i), rw.get(i))
        (a, b) match {
          case (null, null) =>
          case (x: Double, y: Double) =>
            assert((x.isNaN && y.isNaN) ||
              math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y)),
              s"${f.name}: $x vs $y @ ${rw.get(8)}")
          case _ => assert(a != null && b != null && a.toString == b.toString,
            s"${f.name}: $a vs $b @ ${rw.get(8)}")
        }
      }
    }
  }
}
