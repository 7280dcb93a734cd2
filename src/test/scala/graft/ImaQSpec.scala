package graft

import graft.sources.ImaQ

class ImaQSpec extends SparkSuite {
  test("IMA-Q HTML stock reader matches reference golden parquet") {
    val got = ImaQ.estoque(spark,
      "/root/reference/tests/tpf/data/imaq_20260204.html",
      java.sql.Date.valueOf("2026-02-04"))
    val want = spark.read.parquet(
      "/root/reference/tests/tpf/data/imaq_20260204.parquet")
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.count() == want.count(), s"${got.count()} vs ${want.count()}")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }
}
