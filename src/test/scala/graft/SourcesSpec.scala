package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.{AnbimaTaxas, SecundarioMensal}

/** Reader correctness vs the reference's own golden fixtures
  * (/root/reference/tests/... read-only).
  */
class SourcesSpec extends SparkSuite {
  private val tpfData = "/root/reference/tests/tpf/data"

  private def assertFrameEqual(got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq,
      s"columns: ${got.columns.toSeq} vs ${want.columns.toSeq}")
    assert(got.count() == want.count())
    val diff1 = got.exceptAll(want).count()
    val diff2 = want.exceptAll(got).count()
    assert(diff1 == 0 && diff2 == 0, s"value diff: $diff1 / $diff2 rows")
  }

  test("ANBIMA TPF csv reader matches reference golden parquet") {
    val got = AnbimaTaxas.ler(spark, s"$tpfData/tpf_20260206.txt")
    val want = spark.read.parquet(s"$tpfData/tpf_20260206.parquet")
    assertFrameEqual(got, want)
  }

  test("ANBIMA reader handles zip-wrapped historical files") {
    // build a zip around the txt like the pre-2014 .exe wrapping
    val tmp = java.nio.file.Files.createTempFile("ms140512", ".exe")
    val zos = new java.util.zip.ZipOutputStream(
      java.nio.file.Files.newOutputStream(tmp))
    zos.putNextEntry(new java.util.zip.ZipEntry("ms140512.txt"))
    zos.write(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tpfData/tpf_20260206.txt")))
    zos.close()
    val got = AnbimaTaxas.ler(spark, tmp.toString)
    val want = spark.read.parquet(s"$tpfData/tpf_20260206.parquet")
    assertFrameEqual(got, want)
  }

  test("public taxas view: PRE family filter and 9 columns") {
    val full = AnbimaTaxas.ler(spark, s"$tpfData/tpf_20260206.txt")
    val pre = AnbimaTaxas.taxas(full, "PRE")
    assert(pre.columns.toSeq == AnbimaTaxas.ColunasPublicas)
    import spark.implicits._
    val titulos = pre.select("titulo").distinct()
      .as[String].collect().toSet
    assert(titulos == Set("LTN", "NTN-F"))
  }

  for (nome <- Seq("SPRD230202", "SPRD250203", "SPRD260112")) {
    test(s"B3 price report XML reader matches stdlib-ET oracle ($nome)") {
      val got = graft.sources.B3Boletim.ler(spark,
        s"/root/reference/tests/b3/data/$nome.zip")
      val oracle = spark.read.parquet(
        getClass.getResource(s"/boletim_oracle/$nome.parquet").getPath)
      // oracle keeps raw strings; type it identically for comparison
      import org.apache.spark.sql.functions.{col, to_date}
      val want = oracle.select(graft.sources.B3Boletim.Colunas.map {
        case ("TradDt", _) => to_date(col("TradDt"), "yyyy-MM-dd").as("TradDt")
        case (n, t)        => col(n).cast(t).as(n)
      }: _*).orderBy(col("TckrSymb"))
      assertFrameEqual(got, want)
    }

    test(s"B3 price report prefix/length filter ($nome)") {
      val di1 = graft.sources.B3Boletim.ler(spark,
        s"/root/reference/tests/b3/data/$nome.zip",
        prefixoTicker = Seq("DI1"), comprimentoTicker = Some(6))
      import spark.implicits._
      val ticks = di1.select("TckrSymb").as[String].collect()
      assert(ticks.nonEmpty && ticks.forall(t => t.startsWith("DI1") && t.length == 6))
    }
  }

  for (nome <- Seq("tpf_mensal_200306", "tpf_mensal_202501", "tpf_mensal_202606")) {
    test(s"secundario mensal silver+gold matches golden ($nome)") {
      val silver = SecundarioMensal.lerZip(spark, s"$tpfData/$nome.zip")
      val want = spark.read.parquet(s"$tpfData/$nome.parquet")
      val gold = SecundarioMensal.paraGold(silver)
      assertFrameEqual(gold, want)
    }
  }
}
