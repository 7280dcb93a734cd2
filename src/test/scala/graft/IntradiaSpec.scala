package graft

import org.apache.spark.sql.functions._
import graft.sources.SecundarioIntradia

/** Intraday secondary-market reader vs the reference golden, ignoring the
  * query-time metadata columns exactly as the reference test does
  * (tests/tpf/test_secundario_intradia.py).
  */
class IntradiaSpec extends SparkSuite {
  test("intradia reader matches golden (modulo query-time columns)") {
    val raw = SecundarioIntradia.parsear(spark,
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        "/root/reference/tests/tpf/data/tpf_intradia_20260206.csv")))
    val got = SecundarioIntradia.processar(raw,
        java.sql.Timestamp.valueOf("2026-04-26 13:56:30"),
        java.sql.Date.valueOf("2026-04-26"))
      .drop("data_hora_consulta", "data_liquidacao")
    val want = spark.read.parquet(
      "/root/reference/tests/tpf/data/tpf_intradia_20260206.parquet")
      .drop("data_hora_consulta", "data_liquidacao")
    assert(got.columns.toSeq == want.columns.toSeq,
      s"${got.columns.toSeq.diff(want.columns.toSeq)} | ${want.columns.toSeq.diff(got.columns.toSeq)}")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("market-hours gate") {
    import java.time._
    val tz = ZoneId.of("America/Sao_Paulo")
    assert(SecundarioIntradia.mercadoSelicAberto(
      ZonedDateTime.of(2026, 2, 6, 10, 0, 0, 0, tz)))  // Friday 10:00
    assert(!SecundarioIntradia.mercadoSelicAberto(
      ZonedDateTime.of(2026, 2, 6, 23, 0, 0, 0, tz))) // after close
    assert(!SecundarioIntradia.mercadoSelicAberto(
      ZonedDateTime.of(2026, 2, 7, 10, 0, 0, 0, tz))) // Saturday
  }
}
