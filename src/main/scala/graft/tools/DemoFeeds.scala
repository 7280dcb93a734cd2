package graft.tools

/** Hand-runnable demo of the repo-auction dataset, the DI-over scalar and
  * the pure URL builders:
  *   sbt "runMain graft.tools.DemoFeeds"
  */
object DemoFeeds {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local()

    // the reference docstring's own CSV sample (compromissada.py:7-17)
    val csv =
      """id,dataMovimento,horaInicio,publicoPermitidoLeilao,numeroComunicado,nomeTipoOferta,ofertante,prazoDiasCorridos,dataLiquidacao,dataRetorno,volumeAceito,taxaCorte,percentualCorte
        |ac1b013d13d6fb1d9d9e251b800010ee,2025-08-21,09:00,SomenteDealer,null,Tomador,Banco Central,1,2025-08-21,2025-08-22,647707406,"14,9",0
        |ac1b013d13d6fb1d9d9e251b8000121e,2025-08-21,12:00,TodoMercado,43716,Compromissada 1047,Banco Central,91,2025-08-22,2025-11-21,5000000,"99,78","64,13"
        |""".stripMargin
    val out = graft.datasets.Compromissada.processar(
      graft.sources.RawFiles.csvFromText(spark, csv, ",", 0, "null"))
    println("== compromissadas ==")
    out.show(false)
    out.explain("formatted")

    println("== di_over == " + graft.sources.SmallFeeds.diOver(
      java.time.LocalDate.of(2025, 2, 28), _ => "00001315"))

    // SGS consumer shaping: PTAX doctest payload -> cotacao + scalar
    val sgs = graft.sources.SmallFeeds.sgsParse(spark,
      """[{"data":"22/04/2025","valor":"5.7496"}]""")
    println("== ptax serie ==")
    graft.sources.SmallFeeds.sgsPtax(sgs).show(false)
    println("== ptax scalar == " + graft.sources.SmallFeeds.extrairEscalar(
      graft.sources.SmallFeeds.sgsPtax(sgs), "cotacao"))

    println("== URL == " + graft.sources.Urls.olindaMontarUrl(
      "https://olinda.bcb.gov.br/.../leiloes_compromissadas(...)?",
      graft.sources.Urls.compromissadaParametros(
        Some(java.time.LocalDate.of(2025, 8, 21)),
        Some(java.time.LocalDate.of(2025, 8, 21)))))

    // trading-session validation (B3 pregão calendar + intraday gate)
    val hoje = java.time.LocalDate.of(2026, 3, 10)
    println("== pregao == 2026-03-09 valid=" +
      graft.datasets.Pregao.dataNegociacaoValida(
        java.time.LocalDate.of(2026, 3, 9), hoje) +
      " 2025-12-24 valid=" +
      graft.datasets.Pregao.dataNegociacaoValida(
        java.time.LocalDate.of(2025, 12, 24), hoje) +
      " intradia@9:16=" + graft.datasets.Pregao.intradiaDisponivel(
        java.time.ZonedDateTime.of(2026, 3, 10, 9, 16, 0, 0,
          graft.datasets.Pregao.Brt)))

    spark.stop()
  }
}
