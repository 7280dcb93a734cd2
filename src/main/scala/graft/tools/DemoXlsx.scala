package graft.tools

import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Hand-runnable demo of the Excel-backed sources: builds a small real
  * .xlsx in memory (ZIP of SpreadsheetML parts) and drives the three
  * decode surfaces — RMD sheet 1.3, Tesouro VNA points, ANBIMA IPCA
  * projection:
  *   sbt "runMain graft.tools.DemoXlsx"
  */
object DemoXlsx {

  private def workbook(sheets: Seq[(String, String)],
                       shared: Seq[String]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    put("xl/workbook.xml",
      s"""<workbook xmlns:r="r"><sheets>${sheets.zipWithIndex.map { case ((n, _), i) =>
        s"""<sheet name="$n" sheetId="${i + 1}" r:id="rId${i + 1}"/>""" }.mkString}</sheets></workbook>""")
    put("xl/_rels/workbook.xml.rels",
      s"""<Relationships>${sheets.indices.map(i =>
        s"""<Relationship Id="rId${i + 1}" Target="worksheets/sheet${i + 1}.xml"/>""").mkString}</Relationships>""")
    put("xl/sharedStrings.xml",
      s"""<sst>${shared.map(s => s"<si><t>$s</t></si>").mkString}</sst>""")
    sheets.zipWithIndex.foreach { case ((_, xml), i) =>
      put(s"xl/worksheets/sheet${i + 1}.xml", xml)
    }
    zos.close()
    bos.toByteArray
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local()

    // shared strings: 0..8
    val shared = Seq("Categoria", "Nov/06", "I - EMISSÕES", "Vendas", "LTN",
      "2025-12-15 00:00:00", "2026-01-15 00:00:00",
      "Data e Hora da Última Atualização: 13/03/2026 - 15:20 h", "IPCA1")
    val rmd13 =
      """<worksheet><sheetData>
        |<row r="3"><c r="A3" t="s"><v>0</v></c><c r="B3" t="s"><v>1</v></c></row>
        |<row r="4"><c r="A4" t="s"><v>2</v></c></row>
        |<row r="5"><c r="A5" t="s"><v>3</v></c></row>
        |<row r="6"><c r="A6" t="s"><v>4</v></c><c r="B6"><v>10.5</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    val ntnb =
      """<worksheet><sheetData>
        |<row r="1"><c r="A1" t="s"><v>5</v></c><c r="B1"><v>4570.078408</v></c></row>
        |<row r="2"><c r="A2" t="s"><v>6</v></c><c r="B2"><v>4585.159356</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    val indicadores =
      """<worksheet><sheetData>
        |<row r="1"><c r="A1" t="s"><v>7</v></c></row>
        |<row r="2"><c r="A2" t="s"><v>8</v></c><c r="B2" t="inlineStr"><is><t>Projeção (mar/26)</t></is></c><c r="C2"><v>0.28</v></c></row>
        |</sheetData></worksheet>""".stripMargin

    val rmdBytes = workbook(Seq("1.3" -> rmd13), shared)
    println("== RMD 1.3 ==")
    graft.sources.Rmd.estruturarDados(spark, rmdBytes).show(false)

    val vnaBytes = workbook(Seq("NTNB" -> ntnb), shared)
    val pontos = graft.bonds.Vna.pontosPlanilha(vnaBytes, "NTNB")
    println(s"== VNA pontos == $pontos")
    println("vna(2025-12-30) = " + graft.bonds.Vna.calcularVna(
      pontos, java.time.LocalDate.parse("2025-12-30")))

    val indBytes = workbook(Seq("Ind" -> indicadores), shared)
    println("== IPCA projetada == " +
      graft.sources.AnbimaIndicadores.taxaProjetada(indBytes))

    spark.stop()
  }
}
