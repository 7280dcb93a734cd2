package graft.dedup

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** SORTED distinct word n-gram array of a text, as one native pass —
  * the per-DOCUMENT half of [[NGramJaccard]] factored out so that a
  * candidate-verify join can compute each document's gram set ONCE
  * (scan-local) instead of once per candidate pair. A document in a
  * near-dup corpus appears in many candidate pairs; recomputing
  * normalize→split→gram-set per pair made the verify stage the dominant
  * cost of the q50 clustering pipeline.
  *
  * Gram semantics are identical to [[NGramJaccard]] (and the DuckDB
  * oracle): slices w[i..i+n) for i in 0..max(L-n, 0), final slice
  * clamped, joined by one space, distinct. The output is sorted in
  * UTF8String binary order so [[SortedArraysJaccard]] can merge-count
  * the intersection in O(|A|+|B|) without building a hash set per pair.
  *
  * Also accepts an ALREADY-NORMALIZED word array (the
  * `split(normalize(text), " ")` form a pipeline materializes once and
  * shares across gram sizes — [[graft.queries.GramMemo]]): the
  * normalize+split pass is skipped and gram building starts from the
  * given words, producing exactly the string form's output
  * (DedupParitySpec pins it).
  */
case class NGramArray(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, s"n-gram size must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ngram_array"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType | ArrayType(StringType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a STRING or ARRAY<STRING> argument, " +
          s"got ${other.simpleString}")
    }

  @transient private lazy val ws = java.util.regex.Pattern.compile("\\s+")

  override protected def nullSafeEval(input: Any): Any = {
    val words = input match {
      case arr: ArrayData =>
        val m = arr.numElements()
        val w = new Array[String](m)
        var i = 0
        while (i < m) {
          val u = arr.getUTF8String(i)
          w(i) = if (u == null) "" else u.toString
          i += 1
        }
        w
      case raw: UTF8String =>
        UTF8String.fromString(
          ws.matcher(raw.toLowerCase.toString).replaceAll(" "))
          .trim().toString.split(" ", -1)
    }
    val out = new java.util.TreeSet[UTF8String]() // sorted + distinct
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
      out.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    new GenericArrayData(out.toArray[AnyRef](new Array[AnyRef](out.size)))
  }

  override protected def withNewChildInternal(newChild: Expression): NGramArray =
    copy(child = newChild)
}

/** SORTED distinct 64-bit gram hashes (XXH64 of each [[NGramArray]]
  * gram) as one native pass — the LONG-keyed twin of [[NGramArray]] for
  * pipelines whose downstream only ever compares grams for EQUALITY
  * (df counting, posting lists, set intersection): an 8-byte key
  * shuffles at a quarter of the 32-char md5 hex form's width and
  * merges with single long compares instead of byte-string compares.
  * Jaccard/df over the hashed sets equals Jaccard/df over the gram sets
  * up to 64-bit collisions (~|grams per doc|²/2⁶⁴ per pair — negligible
  * at any corpus size, and the q94 oracle hash-compare would catch one).
  * Same dual input contract as [[NGramArray]]: raw text, or the
  * materialized normalized word array.
  */
case class NGramHashArray(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, s"n-gram size must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_hash_array"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType | ArrayType(StringType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a STRING or ARRAY<STRING> argument, " +
          s"got ${other.simpleString}")
    }

  @transient private lazy val ws = java.util.regex.Pattern.compile("\\s+")

  override protected def nullSafeEval(input: Any): Any = {
    val words = input match {
      case arr: ArrayData =>
        val m = arr.numElements()
        val w = new Array[String](m)
        var i = 0
        while (i < m) {
          val u = arr.getUTF8String(i)
          w(i) = if (u == null) "" else u.toString
          i += 1
        }
        w
      case raw: UTF8String =>
        UTF8String.fromString(
          ws.matcher(raw.toLowerCase.toString).replaceAll(" "))
          .trim().toString.split(" ", -1)
    }
    val last = math.max(words.length - n, 0)
    val buf = new Array[Long](last + 1)
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
      buf(i) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUTF8String(UTF8String.fromString(sb.toString), NGramHashArray.Seed)
      i += 1
    }
    java.util.Arrays.sort(buf)
    var k = 0
    var out = 0
    while (k < buf.length) { // dedup in place (sorted)
      if (out == 0 || buf(out - 1) != buf(k)) { buf(out) = buf(k); out += 1 }
      k += 1
    }
    val boxed = new Array[Any](out)
    var b = 0
    while (b < out) { boxed(b) = buf(b); b += 1 }
    new GenericArrayData(boxed)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : NGramHashArray = copy(child = newChild)
}

object NGramHashArray {
  /** Fixed XXH64 seed — the hash is an internal equality key, never an
    * oracle-visible value, but determinism across runs/engines keeps
    * artifacts reproducible.
    */
  val Seed: Long = 42L
}

/** Jaccard similarity of two SORTED distinct arrays (the [[NGramArray]]
  * string form or the [[NGramHashArray]] long form) by linear merge —
  * per-pair cost is one pass of binary comparisons, no hashing and no
  * per-pair set build. Returns the raw ratio (0.0 when both sides are
  * empty), identical to [[NGramJaccard]]'s — callers apply Spark's
  * round().
  *
  * Codegen'd (r12, guide rule 4): the r11 form was a CodegenFallback,
  * and a fallback expression inside whole-stage codegen forces the
  * surrounding stage to MATERIALIZE its full input row per call so
  * `eval(row)` can run — in the q50-family verify stage that row
  * carries both members' gram arrays (~1 KB), rebuilt once per
  * CANDIDATE PAIR. Measured at the ×10 rung: 240 s of task GC time on
  * a 788 s-run stage (ProbeQ50x10, commit c8aa06f). The generated code
  * now calls the
  * allocation-free static merge directly on the already-bound
  * [[ArrayData]] locals — no row buffer, no boxing.
  */
case class SortedArraysJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sorted_arrays_jaccard"

  // The merge is only correct on SORTED DISTINCT arrays (the
  // NGramArray/NGramHashArray output) — that data-level precondition
  // can't be checked cheaply per row, but the element type can: both
  // sides must be array<string> or both array<long>; anything else
  // would ClassCastException (or silently mis-compare) inside the typed
  // accessors, so fail at analysis time instead.
  override def checkInputDataTypes(): TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two ARRAY<STRING> or two ARRAY<BIGINT> " +
          s"arguments (sorted distinct, as produced by " +
          s"ngram_array/ngram_hash_array), got ${l.simpleString} and " +
          s"${r.simpleString}")
    }
  }

  @transient private lazy val longElements: Boolean = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    if (longElements)
      SortedArraysJaccard.jaccardLong(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else
      SortedArraysJaccard.jaccardString(
        a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val m = if (longElements) "jaccardLong" else "jaccardString"
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.dedup.SortedArraysJaccard$$.MODULE$$.$m($a, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedArraysJaccard =
    copy(left = newLeft, right = newRight)
}

object SortedArraysJaccard {

  /** Allocation-free sorted-merge Jaccard over long arrays — called
    * from generated code ([[SortedArraysJaccard.doGenCode]]) and from
    * the interpreted eval; one implementation, both paths.
    */
  def jaccardLong(va: ArrayData, vb: ArrayData): Double = {
    val na = va.numElements()
    val nb = vb.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = va.getLong(i)
      val y = vb.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union > 0) inter.toDouble / union else 0.0
  }

  /** As [[jaccardLong]] for sorted string arrays (binary UTF8 order —
    * the [[NGramArray]] output order).
    */
  def jaccardString(va: ArrayData, vb: ArrayData): Double = {
    val na = va.numElements()
    val nb = vb.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val c = va.getUTF8String(i).compareTo(vb.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union > 0) inter.toDouble / union else 0.0
  }
}
