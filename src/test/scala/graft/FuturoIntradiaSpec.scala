package graft

import org.apache.spark.sql.functions._
import graft.datasets.FuturoIntradia
import graft.sources.DerivativosIntradia

class FuturoIntradiaSpec extends SparkSuite {
  test("DAP intraday snapshot: rate renames, decimals, forwards") {
    val snap = DerivativosIntradia.ler(spark,
      "/root/reference/tests/b3/data/derivativos_intradia_20260310_DAP.json")
    val out = FuturoIntradia.processar(snap, "DAP",
      java.sql.Date.valueOf("2026-03-10")).cache()
    assert(out.count() > 0)
    assert(out.columns.contains("taxa_ultima") &&
      !out.columns.contains("preco_medio"))
    // percent -> decimal applied
    assert(out.filter(col("taxa_ultima") > 1).count() == 0)
    assert(out.columns.contains("taxa_forward"))
    // spot rule: first vertex forward == its rate
    val first = out.orderBy("dias_uteis").select("taxa_ultima", "taxa_forward")
      .head()
    assert(first.getDouble(0) == first.getDouble(1))
  }

  test("DOL intraday snapshot keeps price columns") {
    val snap = DerivativosIntradia.ler(spark,
      "/root/reference/tests/b3/data/derivativos_intradia_20260310_DOL.json")
    val out = FuturoIntradia.processar(snap, "DOL",
      java.sql.Date.valueOf("2026-03-10"))
    assert(out.count() > 0)
    assert(out.columns.contains("preco_ultimo") &&
      !out.columns.contains("taxa_ultima"))
  }

  test("pregão validation: bdays only, no future, Dec 24/31 closed, 9:16 gate") {
    import java.time.{LocalDate, ZonedDateTime}
    import graft.datasets.Pregao
    val hoje = LocalDate.of(2026, 3, 10) // Tuesday, business day
    assert(Pregao.dataNegociacaoValida(LocalDate.of(2026, 3, 9), hoje))
    assert(!Pregao.dataNegociacaoValida(LocalDate.of(2026, 3, 11), hoje)) // future
    assert(!Pregao.dataNegociacaoValida(LocalDate.of(2026, 3, 8), hoje)) // Sunday
    assert(!Pregao.dataNegociacaoValida(LocalDate.of(2025, 1, 1), hoje)) // holiday
    // special closures: Dec 24 (2025: Wednesday) and Dec 31 (Wednesday)
    assert(!Pregao.dataNegociacaoValida(LocalDate.of(2025, 12, 24), hoje))
    assert(!Pregao.dataNegociacaoValida(LocalDate.of(2025, 12, 31), hoje))

    def at(h: Int, m: Int) = ZonedDateTime.of(2026, 3, 10, h, m, 0, 0, Pregao.Brt)
    assert(!Pregao.intradiaDisponivel(at(9, 15)))
    assert(Pregao.intradiaDisponivel(at(9, 16)))
    assert(Pregao.intradiaDisponivel(at(17, 0)))
    // weekend day: never available
    assert(!Pregao.intradiaDisponivel(
      ZonedDateTime.of(2026, 3, 8, 12, 0, 0, 0, Pregao.Brt)))
  }
}
