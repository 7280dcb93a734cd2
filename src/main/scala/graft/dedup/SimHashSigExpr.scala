package graft.dedup

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass SimHash as a native Catalyst expression (default width 16).
  *
  * Semantically identical to the composed higher-order-function form in
  * [[DedupOps.withSimhash16Hof]] (normalize → distinct space-split words →
  * bit j set when the count of words whose j-th md5 hex digit has its high
  * bit set exceeds half the words) but computes all bits in one pass
  * over the word set with a single reused MessageDigest, instead of 16
  * interpreted `filter` lambdas re-scanning the word-hash array
  * (measured ~10x at sf0.1). Per-row CodegenFallback cost is irrelevant
  * (one call per row).
  *
  * `width` (1..32; md5 has 32 nibbles) is THE corpus-size lever of the
  * SimHash family: Hamming-ball candidate generation pays an intrinsic
  * n²/2^width background-collision term as the signature space saturates
  * (measured in `tools/ProbeQ43Scale`, commit c8aa06f — at 10x sf0.1
  * the 16-bit space
  * holds 50k docs in 7.7k distinct signatures), so a 100 TB corpus runs
  * the same plan at width 32. Widening REFINES rather than reshuffles:
  * bit j depends only on nibble j, so the low 16 bits of a 32-bit
  * signature ARE the 16-bit signature (spec-pinned).
  *
  * Reference behavior: SimHash near-dup fingerprinting as used by the
  * dedup family (SURVEY §2, LLM-pipeline ops).
  */
case class SimHashSig(child: Expression, width: Int = 16)
    extends UnaryExpression with CodegenFallback {

  require(width >= 1 && width <= 32,
    s"simhash width $width not in [1, 32] (md5 has 32 nibbles)")

  override def dataType: DataType = IntegerType
  // NOT null-intolerant — see MinHashSig: keeps constraint inference from
  // re-evaluating the signature inside an isnotnull() Filter.
  override def nullIntolerant: Boolean = false
  override def prettyName: String = "simhash_sig"

  @transient private lazy val ws = java.util.regex.Pattern.compile("\\s+")
  // one digest per thread: expression instances are shared across the
  // concurrent tasks of local[n] / executor cores.
  @transient private lazy val md =
    ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  override protected def nullSafeEval(input: Any): Any = {
    val raw = input.asInstanceOf[UTF8String]
    // normalize: lower + collapse whitespace runs + trim — same ops as the
    // lower/regexp_replace/trim expression chain in TextOps.normalize.
    val normalized = UTF8String.fromString(
      ws.matcher(raw.toLowerCase.toString).replaceAll(" ")).trim().toString

    // distinct words of split(normalized, " "): normalized has single
    // spaces only, so a plain split matches the split() expression
    // (including the [""] result for empty input).
    val words = new java.util.LinkedHashSet[String]()
    var start = 0
    var idx = normalized.indexOf(' ')
    while (idx >= 0) {
      words.add(normalized.substring(start, idx))
      start = idx + 1
      idx = normalized.indexOf(' ', start)
    }
    words.add(normalized.substring(start))

    val nWords = words.size
    val ones = new Array[Int](width)
    val digest = md.get()
    val it = words.iterator()
    while (it.hasNext) {
      digest.reset()
      val d = digest.digest(it.next().getBytes("UTF-8"))
      // hex digit j = nibble j of the digest; "high bit set" = nibble >= 8.
      var j = 0
      while (j < width) {
        val nibble =
          if ((j & 1) == 0) (d(j >> 1) >> 4) & 0xf else d(j >> 1) & 0xf
        if (nibble >= 8) ones(j) += 1
        j += 1
      }
    }

    var sig = 0
    var j = 0
    while (j < width) {
      if (ones(j) * 2 > nWords) sig |= (1 << j)
      j += 1
    }
    sig
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)
}
