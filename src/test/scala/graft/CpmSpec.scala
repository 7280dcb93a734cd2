package graft

import org.apache.spark.sql.functions._
import graft.datasets.{Cpm, Probabilities}

/** COPOM implied-probability pipeline vs the reference fixture
  * (tests/selic/data/cpm_29012025.parquet) and the reference test
  * invariants (tests/selic/test_probabilities.py).
  */
class CpmSpec extends SparkSuite {
  private lazy val fixture = spark.read
    .parquet("/root/reference/tests/selic/data/cpm_29012025.parquet")
    .withColumnRenamed("TradeDate", "data_referencia")
    .withColumnRenamed("TickerSymbol", "codigo_negociacao")
    .withColumnRenamed("MeetingEndDate", "data_fim_reuniao")
    .withColumnRenamed("ExpiryDate", "data_expiracao")
    .withColumnRenamed("OptionType", "tipo_opcao")
    .withColumnRenamed("StrikeChangeBps", "variacao_strike_bps")
    .withColumnRenamed("SettlementPrice", "preco_ajuste")
    .withColumnRenamed("BDaysToExp", "dias_uteis")

  test("ticker parse reproduces the fixture's OptionType and StrikeChangeBps") {
    val reparsed = Cpm.parseTicker(
      fixture.select(col("codigo_negociacao"),
        col("tipo_opcao").as("want_tipo"),
        col("variacao_strike_bps").as("want_bps")))
    val bad = reparsed.filter(
      col("tipo_opcao") =!= col("want_tipo") ||
        col("variacao_strike_bps") =!= col("want_bps")).count()
    assert(bad == 0)
    // meeting keys from the ticker: F/H/K 25 -> Jan/Mar/May 2025 meetings
    val keys = reparsed.select("_mes_reuniao", "_ano_reuniao").distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(keys == Set((1, 2025), (3, 2025), (5, 2025)))
  }

  private lazy val all =
    Probabilities.allMeetings(fixture, taxaDi1 = lit(0.0)).cache()

  test("probabilities sum to 1 per meeting (tol 1e-9)") {
    val sums = all.groupBy("data_expiracao").agg(sum("prob").as("s"))
      .select(max(abs(col("s") - 1.0))).head().getDouble(0)
    assert(sums < 1e-9)
  }

  test("cumulative probability ends at 1 per meeting") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("data_expiracao").orderBy(col("variacao_strike_bps").desc)
    val lastCum = all
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(max(abs(col("prob_acumulada") - 1.0))).head().getDouble(0)
    assert(lastCum < 1e-9)
  }

  test("raw probabilities non-negative; schema canonical; rank starts at 1") {
    assert(all.filter(col("prob_bruta") < 0).count() == 0)
    assert(all.columns.toSeq == Probabilities.Colunas)
    assert(all.select(min("ranking_reuniao")).head().getInt(0) == 1)
  }

  test("dominant strike for Jan 2025 meeting is +100 bps") {
    val m = Probabilities.meeting(all)
    val dominant = m.orderBy(col("prob").desc)
      .select("variacao_strike_bps").head().getInt(0)
    assert(dominant == 100)
  }
}
