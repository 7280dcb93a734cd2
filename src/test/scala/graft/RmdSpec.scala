package graft

import graft.sources.Rmd

/** RMD sheet-1.3 structurer: synthetic grid exercising every state of the
  * header classification machine; output shape matches the reference
  * golden's schema (periodo, grupo, subgrupo, titulo, valor).
  */
class RmdSpec extends SparkSuite {
  test("periodo parsing (pt-BR month codes)") {
    assert(Rmd.parsearPeriodo("Nov/06").contains(java.time.LocalDate.of(2006, 11, 1)))
    assert(Rmd.parsearPeriodo("Fev/24").contains(java.time.LocalDate.of(2024, 2, 1)))
    assert(Rmd.parsearPeriodo("Total").isEmpty)
    assert(Rmd.limparRotulo(" LFT¹ ") == "LFT")
  }

  test("state machine + melt produce the long frame") {
    val categorias = Seq(
      "I - EMISSÕES",
      "Vendas",
      "LFT",               // -> Emissões/Vendas/LFT
      "LTN",               // -> Emissões/Vendas/LTN
      "Tesouro Direto (liquido)",
      "NTN-B",             // -> Emissões/Tesouro Direto/NTN-B
      "Emissão Direta com Financeiro (nota)", // direct subgroup row
      "IMPACTO TOTAL",     // closes the section
      "LFT",               // ignored: no open group
      "II - RESGATES",
      "Vencimentos",
      "NTN-F")             // -> Resgates/Vencimentos/NTN-F
    val periodos = Seq("Nov/06", "Total", "Dez/06")
    val matriz: Seq[Seq[Option[Double]]] = Seq(
      Seq(None, None, None),
      Seq(None, None, None),
      Seq(Some(7.496708), Some(99.0), Some(0.0)),   // LFT: Dez zero dropped
      Seq(Some(19.08175), Some(1.0), Some(2.5)),
      Seq(None, None, None),
      Seq(Some(15.1198), None, None),
      Seq(Some(50.58114), None, Some(1.0)),
      Seq(None, None, None),
      Seq(Some(123.0), None, None),                 // ignored row
      Seq(None, None, None),
      Seq(None, None, None),
      Seq(Some(3.0), None, Some(4.0)))

    val out = Rmd.estruturarDados(spark, categorias, periodos, matriz)
    assert(out.columns.toSeq == Seq("periodo", "grupo", "subgrupo", "titulo", "valor"))
    val rows = out.collect().map(r => (r.getDate(0).toString, r.getString(1),
      r.getString(2), r.getString(3), r.getDouble(4))).toSet
    assert(rows == Set(
      ("2006-11-01", "Emissões", "Vendas", "LFT", 7496708.0),
      ("2006-11-01", "Emissões", "Vendas", "LTN", 1.908175e7),
      ("2006-12-01", "Emissões", "Vendas", "LTN", 2500000.0),
      ("2006-11-01", "Emissões", "Tesouro Direto", "NTN-B", 1.51198e7),
      ("2006-11-01", "Emissões", "Emissão Direta com Financeiro", null, 5.058114e7),
      ("2006-12-01", "Emissões", "Emissão Direta com Financeiro", null, 1000000.0),
      ("2006-11-01", "Resgates", "Vencimentos", "NTN-F", 3000000.0),
      ("2006-12-01", "Resgates", "Vencimentos", "NTN-F", 4000000.0)))
  }
}
