package graft

import graft.datasets.Compromissada
import graft.sources.RawFiles

/** Golden: the reference's own docstring example CSV and expected output
  * (compromissada.py:7-17 input, :105-113 doctest table).
  */
class CompromissadaSpec extends SparkSuite {
  private val csv =
    """id,dataMovimento,horaInicio,publicoPermitidoLeilao,numeroComunicado,nomeTipoOferta,ofertante,prazoDiasCorridos,dataLiquidacao,dataRetorno,volumeAceito,taxaCorte,percentualCorte
      |ac1b013d13d6fb1d9d9e251b8000121e,2025-08-21,12:00,TodoMercado,43716,Compromissada 1047,Banco Central,91,2025-08-22,2025-11-21,5000000,"99,78","64,13"
      |ac1b013d13d6fb1d9d9e251b800010ee,2025-08-21,09:00,SomenteDealer,null,Tomador,Banco Central,1,2025-08-21,2025-08-22,647707406,"14,9",0
      |ac1b013d13d6fb1d9d9e251b800010ff,2025-08-21,10:00,TodoMercado,null,Tomador Zero,Banco Central,1,2025-08-21,2025-08-22,0,"14,9","0"
      |""".stripMargin

  test("docstring golden rows (types, derived columns, ordering)") {
    val out = Compromissada.processar(
      RawFiles.csvFromText(spark, csv, ",", 0, "null"))
    assert(out.columns.toSeq == Compromissada.OrdemFinal)
    val rows = out.collect()
    assert(rows.length == 3)

    // sorted by (data_leilao, hora_inicio, tipo_oferta): 09:00 first
    val r0 = rows(0)
    assert(r0.getDate(0).toString == "2025-08-21")
    assert(r0.getDate(1).toString == "2025-08-21")
    assert(r0.getDate(2).toString == "2025-08-22")
    assert(r0.getString(3) == "09:00")
    assert(r0.getLong(4) == 1L && r0.getLong(5) == 1L)
    assert(r0.isNullAt(6)) // comunicado null
    assert(r0.getString(7) == "Tomador" && r0.getString(8) == "SomenteDealer")
    assert(r0.getDouble(9) == 6.47707406e11)
    assert(r0.getDouble(10) == 0.149)
    assert(r0.getDouble(11) == 100.0)

    // zero-volume auction: null cut rate, 0% accepted
    val r1 = rows(1)
    assert(r1.getString(7) == "Tomador Zero")
    assert(r1.getDouble(9) == 0.0)
    assert(r1.isNullAt(10))
    assert(r1.getDouble(11) == 0.0)

    // term repo: 64 business days between 2025-08-22 and 2025-11-21
    val r2 = rows(2)
    assert(r2.getString(7) == "Compromissada 1047")
    assert(r2.getLong(4) == 91L && r2.getLong(5) == 64L)
    assert(r2.getLong(6) == 43716L)
    assert(r2.getDouble(9) == 5.0e9)
    assert(r2.getDouble(10) == 0.9978)
    assert(math.abs(r2.getDouble(11) - 35.87) < 1e-12)
  }
}
