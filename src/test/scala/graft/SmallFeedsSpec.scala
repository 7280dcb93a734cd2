package graft

import java.time.LocalDate
import org.apache.spark.sql.functions._
import graft.sources.{DerivativosIntradia, SmallFeeds}

class SmallFeedsSpec extends SparkSuite {
  test("derivativos intradia JSON fixtures parse with dotted paths") {
    for (c <- Seq("DOL", "DAP", "IND", "FRO")) {
      val df = DerivativosIntradia.ler(spark,
        s"/root/reference/tests/b3/data/derivativos_intradia_20260310_$c.json")
      assert(df.columns.toSeq == DerivativosIntradia.Colunas.map(_._2))
      assert(df.count() > 0)
      assert(df.filter(col("codigo_negociacao").isNull).count() == 0)
      assert(df.filter(col("data_vencimento").isNotNull).count() > 0)
    }
  }

  test("SGS parse + 10y range split + merge") {
    val df = SmallFeeds.sgsParse(spark,
      """[{"data":"02/01/2024","valor":"4.8413"},
          {"data":"03/01/2024","valor":"4.9051"}]""")
    assert(df.collect().map(_.getDouble(1)).toSeq == Seq(4.8413, 4.9051))

    val ranges = SmallFeeds.sgsRanges(LocalDate.parse("2000-01-01"),
      LocalDate.parse("2024-06-01"))
    assert(ranges.length == 3)
    assert(ranges.head._1 == LocalDate.parse("2000-01-01"))
    assert(ranges.last._2 == LocalDate.parse("2024-06-01"))
    assert(SmallFeeds.sgsRanges(LocalDate.parse("2024-01-01"),
      LocalDate.parse("2024-06-01")) ==
      Seq(LocalDate.parse("2024-01-01") -> LocalDate.parse("2024-06-01")))

    val merged = SmallFeeds.sgsMerge(Seq(df, df))
    assert(merged.count() == 2)
  }

  test("COPOM calendar from fixture + announced meetings; expiry is next bday") {
    val past = spark.read.parquet(
      "/root/reference/tests/copom/data/copom_calendar.parquet")
      .drop("ExpiryDate")
    val future = past.limit(0)
    val cal = SmallFeeds.copomCalendar(past, future)
    assert(cal.count() == past.count())
    // expiry strictly after end and is a business day
    assert(cal.filter(col("ExpiryDate") <= col("EndDate")).count() == 0)
    assert(cal.filter(!graft.functions.is_bday(col("ExpiryDate"))).count() == 0)
    val next = SmallFeeds.copomNextMeeting(cal,
      java.sql.Date.valueOf("2025-01-15"))
    assert(next.count() == 1)
    assert(next.select(col("EndDate").cast("string")).head().getString(0)
      == "2025-01-29")
  }

  test("LFT VNA fixed-width parse (bc/lft.py format)") {
    val texto =
      """SELIC - APC238
        |EMISSAO DT-VENC QTDE CODIGO VNA
        |20200101 20260301 10 210100 14903,01148
        |20210101 20270901 20 210100 14903,01148
        |20210101 20270901 20 100000 999,99
        |99999999*
        |""".stripMargin
    assert(SmallFeeds.lftVnaParse(texto) == 14903.01148)
    intercept[IllegalArgumentException] { // no 210100 rows at all
      SmallFeeds.lftVnaParse(texto.replace("210100", "999999"))
    }
    intercept[IllegalArgumentException] { // conflicting VNA values
      SmallFeeds.lftVnaParse(texto.replaceFirst("14903,01148", "1,0"))
    }
  }

  test("benchmarks + IPCA payload parse") {
    val b = SmallFeeds.benchmarksParse(spark,
      """[{"benchmark":" LTN 12 meses ","tipo_titulo":"LTN",
          "data_vencimento":"2026-10-01"}]""")
    assert(b.head().getString(0) == "LTN 12 meses")

    val i = SmallFeeds.ipcaParse(spark,
      """[{"periodo":"202401","valor":0.42},{"periodo":"202402","valor":0.83}]""")
    assert(i.collect().map(r => (r.getDate(0).toString, r.getDouble(1))).toSeq
      == Seq(("2024-01-01", 0.42), ("2024-02-01", 0.83)))
  }

  test("SGS consumers: ptax cotacao round4, taxa pct->decimal, scalar NaN") {
    // doctest golden (bc/sgs.py:366-372): 22-04-2025 -> 5.7496
    val df = SmallFeeds.sgsParse(spark,
      """[{"data":"22/04/2025","valor":"5.7496"},
         {"data":"23/04/2025","valor":"5.66005"}]""")
    val ptax = SmallFeeds.sgsPtax(df).orderBy("data").collect()
    assert(ptax(0).getDouble(1) == 5.7496)
    assert(ptax(1).getDouble(1) == 5.66) // rounded to 4 (ties-even)
    assert(SmallFeeds.extrairEscalar(
      SmallFeeds.sgsPtax(df).filter(col("data") === "2025-04-22"),
      "cotacao") == 5.7496)
    // empty -> NaN (holiday/weekend/future contract)
    assert(SmallFeeds.extrairEscalar(
      SmallFeeds.sgsPtax(df).filter(col("data") === "2025-04-20"),
      "cotacao").isNaN)
    // rate series: percent -> decimal
    val taxa = SmallFeeds.sgsTaxa(SmallFeeds.sgsParse(spark,
      """[{"data":"22/04/2025","valor":"14.15"}]""")).head()
    assert(taxa.getDouble(1) == 0.1415)
  }

  test("DI over: parse, availability contract, 550/421 handling") {
    import java.time.LocalDate
    // doctest golden (di_over.py:84-88): 28/02/2025 -> 0.1315
    assert(SmallFeeds.diOverParse("00001315") == 0.1315)
    assert(SmallFeeds.diOverParse("00001315\n") == 0.1315)

    var chamadas = 0
    def ok(nome: String): String = {
      chamadas += 1
      assert(nome == "20250228.txt")
      "00001315"
    }
    assert(SmallFeeds.diOver(LocalDate.of(2025, 2, 28), ok) == 0.1315)
    assert(chamadas == 1)

    // holiday (01/01/2025) and weekend: NaN WITHOUT touching the fetcher
    def explode(nome: String): String = fail("fetcher must not be called")
    assert(SmallFeeds.diOver(LocalDate.of(2025, 1, 1), explode).isNaN)
    assert(SmallFeeds.diOver(LocalDate.of(2025, 3, 1), explode).isNaN)
    // pre-series
    assert(SmallFeeds.diOver(LocalDate.of(2012, 8, 17), explode).isNaN)

    // FTP 550 (missing file) -> NaN
    assert(SmallFeeds.diOver(LocalDate.of(2025, 2, 27),
      _ => throw new java.io.IOException("550 no such file")).isNaN)

    // 421 transient: retried, then succeeds
    var falhas = 0
    def transiente(nome: String): String = {
      falhas += 1
      if (falhas < 3) throw new java.io.IOException("421 too many connections")
      "00001200"
    }
    assert(SmallFeeds.diOver(LocalDate.of(2025, 2, 27), transiente) == 0.12)
    assert(falhas == 3)

    // 421 beyond max attempts and other errors surface as ConnectException
    intercept[java.net.ConnectException] {
      SmallFeeds.diOver(LocalDate.of(2025, 2, 27),
        _ => throw new java.io.IOException("421 too many connections"))
    }
    intercept[java.net.ConnectException] {
      SmallFeeds.diOver(LocalDate.of(2025, 2, 27),
        _ => throw new java.io.IOException("timeout"))
    }
  }
}
