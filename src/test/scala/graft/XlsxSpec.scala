package graft

import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}
import graft.bonds.Vna
import graft.sources.{AnbimaIndicadores, Rmd, Xlsx}

/** Builds real .xlsx byte streams (ZIP of SpreadsheetML parts, written
  * independently of the reader) and drives them end-to-end through the
  * Excel-backed sources: RMD sheet 1.3, Tesouro VNA points, ANBIMA IPCA
  * projection.
  */
object XlsxFixture {

  /** Cell: None = absent; Left = numeric; Right = shared string. */
  type Cell = Option[Either[Double, String]]

  def num(v: Double): Cell = Some(Left(v))
  def str(s: String): Cell = Some(Right(s))

  private def fmt(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  private def colRef(c: Int): String = {
    var n = c + 1
    val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  /** Assemble a workbook. Strings go through sharedStrings (the common
    * Excel encoding); rows/cells carry explicit r references with gaps
    * preserved (sparse cells are simply omitted).
    */
  def build(sheets: Seq[(String, Seq[Seq[Cell]])]): Array[Byte] = {
    val sharedIdx = scala.collection.mutable.LinkedHashMap[String, Int]()
    def sIdx(s: String): Int =
      sharedIdx.getOrElseUpdate(s, sharedIdx.size)

    val sheetXmls = sheets.map { case (_, rows) =>
      val body = rows.zipWithIndex.flatMap { case (cells, r) =>
        val cs = cells.zipWithIndex.collect {
          case (Some(Left(v)), c) =>
            s"""<c r="${colRef(c)}${r + 1}"><v>${fmt(v)}</v></c>"""
          case (Some(Right(s)), c) =>
            s"""<c r="${colRef(c)}${r + 1}" t="s"><v>${sIdx(s)}</v></c>"""
        }
        if (cs.isEmpty) None
        else Some(s"""<row r="${r + 1}">${cs.mkString}</row>""")
      }.mkString
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
<sheetData>$body</sheetData></worksheet>"""
    }

    val sharedXml = {
      val sis = sharedIdx.keys.map(s => s"<si><t>${xmlEscape(s)}</t></si>")
        .mkString
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${sharedIdx.size}" uniqueCount="${sharedIdx.size}">$sis</sst>"""
    }

    val wbXml = {
      val ss = sheets.zipWithIndex.map { case ((name, _), i) =>
        s"""<sheet name="${xmlEscape(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
      }.mkString
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<sheets>$ss</sheets></workbook>"""
    }

    val relsXml = {
      val rs = sheets.indices.map { i =>
        s"""<Relationship Id="rId${i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet${i + 1}.xml"/>"""
      }.mkString
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">$rs</Relationships>"""
    }

    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    put("xl/workbook.xml", wbXml)
    put("xl/_rels/workbook.xml.rels", relsXml)
    put("xl/sharedStrings.xml", sharedXml)
    sheetXmls.zipWithIndex.foreach { case (xml, i) =>
      put(s"xl/worksheets/sheet${i + 1}.xml", xml)
    }
    zos.close()
    bos.toByteArray
  }
}

class XlsxSpec extends SparkSuite {
  import XlsxFixture.{build, num, str}

  test("reader: sheet names, sparse cells, shared strings, cell refs") {
    val bytes = build(Seq(
      "Primeira" -> Seq(
        Seq(str("a"), None, num(2.5)),
        Seq(), // fully empty row
        Seq(None, str("x&y <z>"))),
      "Segunda" -> Seq(Seq(num(7)))))
    assert(Xlsx.sheetNames(bytes) == Seq("Primeira", "Segunda"))
    val g = Xlsx.readSheet(bytes, "Primeira")
    assert(g(0) == Vector(Some("a"), None, Some("2.5")))
    assert(g(1).forall(_.isEmpty))
    assert(g(2) == Vector(None, Some("x&y <z>"), None))
    assert(Xlsx.readSheet(bytes, "Segunda")(0)(0).contains("7"))
    assert(Xlsx.readFirstSheet(bytes) == g)
    intercept[IllegalArgumentException](Xlsx.readSheet(bytes, "nope"))
  }

  test("reader: inline strings and missing r attributes") {
    // handcrafted sheet exercising inlineStr cells and sequential layout
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    put("xl/workbook.xml",
      """<workbook xmlns:r="x"><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    put("xl/_rels/workbook.xml.rels",
      """<Relationships><Relationship Id="rId1" Target="worksheets/sheet1.xml"/></Relationships>""")
    put("xl/worksheets/sheet1.xml",
      """<worksheet><sheetData><row><c t="inlineStr"><is><t>oi</t></is></c><c><v>3</v></c><c t="inlineStr"><is><r><t>IPCA </t></r><r><t>15</t></r></is></c></row></sheetData></worksheet>""")
    zos.close()
    val g = Xlsx.readSheet(bos.toByteArray, "S")
    // the third cell is inline RICH TEXT (two runs) — runs concatenate
    assert(g == Vector(Vector(Some("oi"), Some("3"), Some("IPCA 15"))))
  }

  test("RMD 1.3 end-to-end from xlsx bytes") {
    val sheet13 = Seq(
      Seq(str("Relatório Mensal da Dívida")),
      Seq(),
      Seq(str("Categoria"), str("Nov/06"), str("Total"), str("Dez/06")),
      Seq(str("I - EMISSÕES")),
      Seq(str("Vendas")),
      Seq(str("LTN"), num(10.5), num(999.0), num(0.0)),
      Seq(str("NTN-B¹"), num(2.25), num(999.0), num(3.5)),
      Seq(str("II - RESGATES")),
      Seq(str("Vencimentos")),
      Seq(str("LFT"), num(1.0), num(999.0), None),
      Seq(str("IMPACTO TOTAL")),
      Seq(str("LTN"), num(77.0), num(999.0), num(77.0)))
    // NTN-B¹ has a footnote marker: the structurer must see the clean label
    val cleaned = sheet13.map(_.map(_.map {
      case Right(s) => Right(Rmd.limparRotulo(s))
      case other => other
    }))
    val bytes = build(Seq("1.1" -> Seq(Seq(str("outra aba"))),
      "1.3" -> cleaned))
    val out = Rmd.estruturarDados(spark, bytes)
      .orderBy("periodo", "grupo", "subgrupo", "titulo")
      .collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getString(2),
        r.getString(3), r.getDouble(4)))
    // "Total" column is not a parseable period -> dropped; zero and null
    // values dropped; IMPACTO section ignored
    assert(out.toSeq == Seq(
      ("2006-11-01", "Emissões", "Vendas", "LTN", 1.05e7),
      ("2006-11-01", "Emissões", "Vendas", "NTN-B", 2.25e6),
      ("2006-11-01", "Resgates", "Vencimentos", "LFT", 1.0e6),
      ("2006-12-01", "Emissões", "Vendas", "NTN-B", 3.5e6)))
  }

  test("RMD 2.1 end-to-end from xlsx bytes (hierarchical DPF stock)") {
    val sheet21 = Seq(
      Seq(str("Anexo 2.1 - Estoque da DPF")),
      Seq(),
      Seq(str("Discriminação"), str("Nov/23"), str("Total"), str("Dez/23")),
      Seq(str("DPF em Poder do Público¹")),   // transition, non-emitting
      Seq(str("DPMFi")),                      // transition, non-emitting
      Seq(str("LFT"), num(111.0)),            // leaf under non-emitting: ignored
      Seq(str("Tesouro Nacional")),           // emitting: Público/DPMFi/TN
      Seq(str("LFT"), num(1.234567), num(999.0), None),
      Seq(str("LTN"), num(2.0), num(999.0), num(0.0)), // Dez ZERO kept (2.1 drops only nulls)
      Seq(str("Banco Central")),              // emitting: Público/DPMFi/BC
      Seq(str("NTN-B"), num(3.5)),
      Seq(str("DPFe")),                       // transition, non-emitting
      Seq(str("Global"), num(222.0)),         // ignored
      Seq(str("Dívida  Mobiliária²")),        // run-collapse + footnote -> emitting
      Seq(str("Global USD"), num(4.0)),
      Seq(str("Dívida Contratual")),          // emitting: Público/DPFe/Contratual
      Seq(str("Empréstimos"), num(5.25)),
      Seq(str("DPMFi em Poder do Banco Central")), // emitting, null categoria
      Seq(str("LFT"), None, num(999.0), num(7.0)))
    val bytes = build(Seq("2.1" -> sheet21))
    val out = Rmd.estruturarDados(spark, bytes, "2.1")
      .orderBy("periodo", "detentor", "tipo", "categoria", "titulo")
      .collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), r.getDouble(5)))
    // "Total" column unparseable -> dropped; values scale by 1e9; the
    // LTN Dez zero survives but the LFT Nov null does not
    assert(out.toSeq == Seq(
      ("2023-11-01", "Público", "DPFe", "Contratual", "Empréstimos", 5.25e9),
      ("2023-11-01", "Público", "DPFe", "Mobiliária", "Global USD", 4.0e9),
      ("2023-11-01", "Público", "DPMFi", "Banco Central", "NTN-B", 3.5e9),
      ("2023-11-01", "Público", "DPMFi", "Tesouro Nacional", "LFT", 1.234567e9),
      ("2023-11-01", "Público", "DPMFi", "Tesouro Nacional", "LTN", 2.0e9),
      ("2023-12-01", "Banco Central", "DPMFi", null, "LFT", 7.0e9),
      ("2023-12-01", "Público", "DPMFi", "Tesouro Nacional", "LTN", 0.0)))

    intercept[IllegalArgumentException](Rmd.estruturarDados(spark, bytes, "9.9"))
  }

  test("Tesouro VNA points end-to-end from xlsx bytes (doctest golden)") {
    val ntnb = Seq(
      Seq(str("Data"), str("VNA")), // header junk: unparseable -> dropped
      Seq(str("2025-12-15 00:00:00"), num(1.0)), // dup: keep LAST
      Seq(str("2025-12-15 00:00:00"), num(4570.078408)),
      Seq(str("2026-01-15 00:00:00"), num(4585.159356)),
      Seq(str("n/d"), num(123.0))) // unparseable date -> dropped
    val bytes = build(Seq("NTNB" -> ntnb, "NTNC" -> Seq(
      Seq(str("2025-12-01"), num(6000.0)))))
    val pontos = Vna.pontosPlanilha(bytes, "NTNB")
    assert(pontos == Seq(
      java.time.LocalDate.parse("2025-12-15") -> 4570.078408,
      java.time.LocalDate.parse("2026-01-15") -> 4585.159356))
    // published point + pro-rata golden (reference vna/ntnb.py:66-70)
    assert(Vna.calcularVna(pontos,
      java.time.LocalDate.parse("2025-12-15")) == 4570.078408)
    assert(Vna.calcularVna(pontos,
      java.time.LocalDate.parse("2025-12-30")) == 4577.369436)
    assert(Vna.pontosPlanilha(bytes, "NTNC").head._2 == 6000.0)
  }

  test("ANBIMA IPCA projection end-to-end from xlsx bytes") {
    val sheet = Seq(
      Seq(str("Data e Hora da Última Atualização: 13/03/2026 - 15:20 h")),
      Seq(str("Indicadores de Inflação")),
      Seq(str("IGP-M2"), str("Projeção (mar/26)"), num(0.40)),
      Seq(str("IPCA1"), str("Projeção (mar/26)"), num(0.28)))
    val p = AnbimaIndicadores.taxaProjetada(build(Seq("Indicadores" -> sheet)))
    assert(p.ultimaAtualizacao ==
      java.time.LocalDateTime.parse("2026-03-13T15:20"))
    assert(p.periodoReferencia == "mar/26")
    assert(p.valorProjetado == 0.0028)
  }
}
