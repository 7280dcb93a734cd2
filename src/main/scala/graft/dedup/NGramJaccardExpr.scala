package graft.dedup

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}

import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram Jaccard similarity of two texts as ONE native pass —
  * normalize → split → distinct n-grams → |A∩B| / |A∪B| — replacing the
  * composed form's two scan-side gram-array materializations plus a
  * per-pair higher-order array_intersect (the HOF twin is kept in
  * [[DedupOps]] as the semantic cross-check).
  *
  * Gram semantics match the composed/oracle form exactly: for word list w
  * of length L, grams are w.slice(i, i+n).mkString(" ") for
  * i in 0..max(L-n, 0) (the final slice clamps, so short texts yield their
  * whole word list as the single gram), made distinct.
  *
  * Returns the RAW ratio (0.0 when both gram sets are empty); callers
  * apply Spark's own round() so both engines round the identical IEEE
  * quotient.
  */
case class NGramJaccard(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {

  require(n >= 1, s"n-gram size must be >= 1, got $n")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "ngram_jaccard"

  // both children are read as UTF8String: any other type must fail at
  // analysis, not cast wrongly at run time
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two STRING arguments, got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    NGramJaccard.jaccard(a.asInstanceOf[UTF8String],
      b.asInstanceOf[UTF8String], n)

  // Codegen'd (r12, guide rule 4): the CodegenFallback form forced the
  // surrounding stage to materialize its full input row — here BOTH
  // raw texts — once per pair call (the SortedArraysJaccard defect).
  // The gram-set build still allocates (it is the operator's real
  // work), but the per-call row copy is gone.
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.dedup.NGramJaccard$$.MODULE$$.jaccard($a, $b, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NGramJaccard =
    copy(left = newLeft, right = newRight)
}

object NGramJaccard {

  private val ws = java.util.regex.Pattern.compile("\\s+")

  private def grams(raw: UTF8String, n: Int)
      : java.util.LinkedHashSet[String] = {
    val normalized = UTF8String.fromString(
      ws.matcher(raw.toLowerCase.toString).replaceAll(" ")).trim().toString
    val words = normalized.split(" ", -1)
    val out = new java.util.LinkedHashSet[String]()
    val last = math.max(words.length - n, 0)
    var i = 0
    while (i <= last) {
      val end = math.min(i + n, words.length)
      val sb = new StringBuilder
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(words(j))
        j += 1
      }
      out.add(sb.toString)
      i += 1
    }
    out
  }

  /** The gram-set Jaccard shared by interpreted eval and generated
    * code; semantics identical to the r11 instance method.
    */
  def jaccard(a: UTF8String, b: UTF8String, n: Int): Double = {
    val ga = grams(a, n)
    val gb = grams(b, n)
    var inter = 0
    val it = ga.iterator()
    while (it.hasNext) if (gb.contains(it.next())) inter += 1
    val union = ga.size + gb.size - inter
    if (union > 0) inter.toDouble / union else 0.0
  }
}
