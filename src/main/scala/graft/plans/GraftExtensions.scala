package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.types.{BinaryType, DateType, DoubleType, IntegerType, LongType, StringType}
import graft.core._
import graft.dedup.{MinHashSig, NGramJaccard, SimHashSig}
import graft.multimodal.ByteHistogram16
import graft.sim.{DotCosine, TopKByScore}

/** SparkSessionExtensions entry point: injects the engine's custom
  * Catalyst expressions so any session created with
  *
  *   builder.withExtensions(new GraftExtensions) ...
  *   // or spark.sql.extensions=graft.plans.GraftExtensions
  *
  * can use them from SQL — the deployment shape for a shared cluster
  * (SURVEY §7 "custom Catalyst" item; spark.sql.extensions is how the
  * jar's operators reach notebooks and JDBC sessions that never touch the
  * Scala API).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  // arity gate: a SQL call like dot_cosine(x) must fail with the
  // analyzer's WRONG_NUM_ARGS error naming the function, not with a bare
  // IndexOutOfBoundsException from es(1) inside the builder
  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    es => {
      if (es.length != n)
        throw org.apache.spark.sql.graftbridge.ColumnBridge
          .wrongNumArgs(name, n, es.length)
      build(es)
    }

  override def apply(e: SparkSessionExtensions): Unit = {
    // SQL arguments arrive with whatever type the caller wrote (bigint
    // columns, decimal literals); the engine expressions expect exact
    // types, so coerce at analysis time — the same contract the Scala
    // Column wrappers in graft.functions enforce with .cast
    def asDate(x: Expression) = Cast(x, DateType)
    def asInt(x: Expression) = Cast(x, IntegerType)
    def asDouble(x: Expression) = Cast(x, DoubleType)
    e.injectFunction((FunctionIdentifier("bday_count"),
      info("bday_count", "business days in [start, end), Brazilian dual-regime calendar"),
      arity("bday_count", 2)(es => BusinessDayCount(asDate(es.head), asDate(es(1))))))
    e.injectFunction((FunctionIdentifier("add_bdays"),
      info("add_bdays", "roll to business day then add n business days"),
      arity("add_bdays", 2)(es =>
        AddBusinessDays(asDate(es.head), asInt(es(1)), rollForward = true))))
    e.injectFunction((FunctionIdentifier("is_bday"),
      info("is_bday", "weekday and not a holiday of the date's own regime"),
      arity("is_bday", 1)(es => IsBusinessDay(asDate(es.head)))))
    e.injectFunction((FunctionIdentifier("truncate_dec"),
      info("truncate_dec", "STN truncation toward zero on the shortest decimal repr"),
      arity("truncate_dec", 2)(es => TruncateDecimal(asDouble(es.head), asInt(es(1))))))
    e.injectFunction((FunctionIdentifier("round_even"),
      info("round_even", "Polars-style scaled ties-to-even rounding"),
      arity("round_even", 2)(es => RoundHalfEvenBinary(asDouble(es.head), asInt(es(1))))))
    e.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "one-pass MinHash signature array of a text column"),
      arity("minhash_sig", 1)(es => MinHashSig(es.head, k = 5, numHashes = 8))))
    e.injectFunction((FunctionIdentifier("simhash_sig"),
      info("simhash_sig", "one-pass 16-bit SimHash of a text column"),
      arity("simhash_sig", 1)(es => SimHashSig(es.head))))
    e.injectFunction((FunctionIdentifier("ngram_jaccard"),
      info("ngram_jaccard", "one-pass word-3-gram Jaccard of two text columns, rounded to 6 places"),
      // Round to match the Scala API (DedupOps.jaccardOfTexts rounds to
      // 6 places) — SQL and Column callers must agree on identical inputs
      arity("ngram_jaccard", 2)(es => org.apache.spark.sql.catalyst.expressions.Round(
        NGramJaccard(es.head, es(1), n = 3),
        org.apache.spark.sql.catalyst.expressions.Literal(6)))))
    e.injectFunction((FunctionIdentifier("text_stats"),
      info("text_stats", "one-pass text feature struct (stopword hits, cjk/alpha/punct counts, token counts)"),
      arity("text_stats", 1)(es => graft.text.TextStats(es.head))))
    e.injectFunction((FunctionIdentifier("byte_histogram16"),
      info("byte_histogram16", "high-nibble histogram (16 bins) of a binary column"),
      arity("byte_histogram16", 1)(es => ByteHistogram16(es.head))))
    e.injectFunction((FunctionIdentifier("dot_cosine"),
      info("dot_cosine", "one-pass cosine similarity of two float- or double-array embeddings"),
      arity("dot_cosine", 2)(es => DotCosine(es.head, es(1)))))
    e.injectFunction((FunctionIdentifier("dot_product"),
      info("dot_product", "one-pass raw dot product of two float- or double-array vectors"),
      arity("dot_product", 2)(es => graft.sim.DotProduct(es.head, es(1)))))
    e.injectFunction((FunctionIdentifier("quantize_int8"),
      info("quantize_int8", "one-pass affine int8 quantization struct (range, reconstruction errors, codes) of a float-array embedding"),
      arity("quantize_int8", 1)(es => graft.sim.QuantizeInt8(es.head))))
    e.injectFunction((FunctionIdentifier("topk_by_score"),
      info("topk_by_score", "bounded top-5 (score, id) aggregate with map-side partial merge"),
      arity("topk_by_score", 2)(es =>
        TopKByScore(Cast(es.head, DoubleType), Cast(es(1), LongType), k = 5)
          .toAggregateExpression())))
    e.injectFunction((FunctionIdentifier("kmv_distinct"),
      info("kmv_distinct", "KMV distinct-count estimate (k=256) over 52-bit hashes; engine-portable, mergeable"),
      arity("kmv_distinct", 1)(es =>
        graft.dedup.KmvSketch(Cast(es.head, LongType), k = 256)
          .toAggregateExpression())))
    e.injectFunction((FunctionIdentifier("hll_distinct"),
      info("hll_distinct", "HyperLogLog distinct-count estimate (256 registers) over md5-hex input; engine-portable, mergeable"),
      arity("hll_distinct", 1)(es =>
        graft.dedup.HllSketch(Cast(es.head, StringType))
          .toAggregateExpression())))
    e.injectFunction((FunctionIdentifier("hll_registers"),
      info("hll_registers", "raw 256-byte HyperLogLog register array (the stored shard artifact) over md5-hex input"),
      arity("hll_registers", 1)(es =>
        graft.dedup.HllRegisters(Cast(es.head, StringType))
          .toAggregateExpression())))
    e.injectFunction((FunctionIdentifier("hll_merge"),
      info("hll_merge", "fold of stored HLL register arrays to the distinct-count estimate"),
      arity("hll_merge", 1)(es =>
        graft.dedup.HllMergeRegisters(Cast(es.head, BinaryType))
          .toAggregateExpression())))
    e.injectFunction((FunctionIdentifier("dd_quantile"),
      info("dd_quantile", "DDSketch log-linear quantile estimate (type-1 bucket lower bound, <12.5% rel err) over BIGINT cents; engine-portable, mergeable"),
      arity("dd_quantile", 2)(es => {
        // the aggregate takes a plain Double (the KmvSketch pattern —
        // a Column-bridge Expression is unresolved, so foldability
        // can't be checked there); the SQL path evaluates its literal
        // here, where the parser has handed us a real one
        val qe = es(1)
        if (!qe.foldable)
          throw new IllegalArgumentException(
            "dd_quantile: quantile argument must be a literal")
        val q = Cast(qe, DoubleType).eval() match {
          case n: java.lang.Number => n.doubleValue()
          case other => throw new IllegalArgumentException(
            s"dd_quantile: quantile must be a DOUBLE literal, got $other")
        }
        graft.dedup.DdSketchQuantile(Cast(es.head, LongType), q)
          .toAggregateExpression()
      })))
  }
}
