package graft.text

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass text statistics as a native Catalyst expression — the fused
  * form of the regex stack behind language ID, quality scoring and token
  * counting ([[TextOps]]): stopword hits per language, CJK char count,
  * alpha/punct char counts, whitespace token count and BPE-ish token
  * count, all from two linear scans of the string instead of ~10
  * `regexp_count`/`split` passes (each of which re-walks the text with
  * java.util.regex). At 100 TB text feature extraction is regex-bound;
  * this is the scan-local operator you'd actually run.
  *
  * Semantics are EXACTLY the regex forms' (kept in TextOps as the
  * cross-check twins; TextParitySpec pins the equivalence):
  *
  *   - enHits..frHits = regexp_count(lower(c), "\\b(w1|...|wN)\\b"):
  *     maximal word runs of the lowercased text equal to a stopword
  *     (single-word alternatives make regex counting equal to token-set
  *     membership). Java's \b is UNICODE-aware even without the
  *     UNICODE_CHARACTER_CLASS flag (JVM-verified): a word char is '_',
  *     any Character.isLetterOrDigit CODE POINT (so "中文the"/"éto"
  *     contain no boundary before the ASCII letters and count 0), or a
  *     NON_SPACING_MARK whose backward mark-chain rests on a
  *     letter/digit base (so decomposed "éto" is ONE word);
  *     CAVEAT: RE2 engines (DuckDB/Go/Rust regex) use an ASCII \b and
  *     disagree with BOTH Java forms exactly on stopword-abuts-non-ASCII-
  *     letter inputs (RE2 counts 1 where Java counts 0) — the oracle
  *     corpus contains no such adjacency (pinned by TextParitySpec
  *     running the Java twins over the documents fixture);
  *   - cjk = regexp_count(c, "[\\x{4e00}-\\x{9fff}]") on the ORIGINAL text
  *     (a BMP-only range: astral CJK never matches, in either form);
  *   - alpha/punct = regexp_count(c, "[A-Za-z]") / "[.,;:!?]";
  *   - nws = TextOps.tokenCountWs: 0 when the space-trimmed text is empty,
  *     else size(split(trimmed, "\\s+", -1)) = 1 + (number of maximal
  *     ASCII-whitespace runs), counting Java's leading/trailing empty
  *     fields exactly;
  *   - nbpe = regexp_count(c, "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"):
  *     alpha runs + digit chars + other non-space CODE POINTS — java.util
  *     .regex iterates code points, so a surrogate PAIR (emoji, astral
  *     CJK) is ONE match while a lone surrogate is one match of its own.
  *
  * A one-entry per-thread memo keyed by the input's BYTES (a cloned
  * UTF8String — accessors hand out fresh objects per eval and scan
  * buffers get reused, so neither reference identity nor an uncloned key
  * is sound) absorbs the multi-column pattern: langId + quality + token
  * counts projected from the same row run the scans once, not once per
  * derived column — interpreted projections have no common subexpression
  * elimination. The memo lives in the companion (one slot per thread,
  * shared across expression INSTANCES): each TextOps call constructs its
  * own TextStats, so a per-instance slot would miss the cross-operator
  * reuse the memo exists for. The equality probe is a linear byte
  * compare, ~50x cheaper than the scans it saves.
  */
case class TextStats(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = TextStats.schema
  override def nullIntolerant: Boolean = false
  override def prettyName: String = "text_stats"

  override protected def nullSafeEval(input: Any): Any = {
    val raw = input.asInstanceOf[UTF8String]
    val m = TextStats.memo.get()
    if (m.key != null && m.key.equals(raw)) return m.value
    val s = raw.toString

    // ---- pass 1: original text — cjk/alpha/punct/nbpe/nws -------------
    var cjk = 0
    var alpha = 0L
    var punct = 0L
    var nbpe = 0L
    var inAlphaRun = false
    val n = s.length
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (Character.isHighSurrogate(c) && i + 1 < n &&
          Character.isLowSurrogate(s.charAt(i + 1))) {
        // one astral CODE POINT (regex counts it once): never alpha /
        // digit / ASCII space / BMP-cjk / ASCII punct, so it contributes
        // exactly one "other non-space" token
        nbpe += 1
        inAlphaRun = false
        i += 2
      } else {
        val isAl = (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
        if (isAl) {
          alpha += 1
          if (!inAlphaRun) { nbpe += 1; inAlphaRun = true } // [A-Za-z]+ run
        } else {
          inAlphaRun = false
          if (c >= '0' && c <= '9') nbpe += 1 // single digit token
          else if (!TextStats.isAsciiSpace(c)) nbpe += 1 // other non-space
        }
        if (c >= 0x4e00 && c <= 0x9fff) cjk += 1
        if (c == '.' || c == ',' || c == ';' || c == ':' || c == '!' || c == '?')
          punct += 1
        i += 1
      }
    }

    // nws over the SPACE-trimmed text (Spark trim removes 0x20 only)
    var lo = 0
    var hi = n
    while (lo < hi && s.charAt(lo) == ' ') lo += 1
    while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
    var nws = 0L
    if (hi > lo) {
      nws = 1L
      var inRun = false
      i = lo
      while (i < hi) {
        if (TextStats.isAsciiSpace(s.charAt(i))) {
          if (!inRun) { nws += 1; inRun = true }
        } else inRun = false
        i += 1
      }
    }

    // ---- pass 2: lowercased text — stopword tokens ---------------------
    // lower() via UTF8String to match the lower(c) expression exactly.
    // Word chars follow Java's \b (JVM-verified, see class doc): '_', any
    // isLetterOrDigit code point, or a non-spacing mark whose mark-chain
    // rests on a letter/digit base. Iteration is by CODE POINT so astral
    // letters are word-forming while lone surrogates are boundaries.
    val ls = raw.toLowerCase.toString
    var en = 0; var de = 0; var es = 0; var fr = 0
    val ln = ls.length
    var start = -1
    var baseLod = false // last non-mark code point was a letter/digit
    i = 0
    while (i <= ln) {
      var cc = 1
      var isWord = false
      if (i < ln) {
        val cp = ls.codePointAt(i)
        cc = Character.charCount(cp)
        if (Character.getType(cp) == Character.NON_SPACING_MARK) {
          isWord = baseLod // java.util.regex.Pattern.Bound.hasBaseCharacter
        } else {
          val lod = Character.isLetterOrDigit(cp)
          isWord = lod || cp == '_'
          baseLod = lod
        }
      }
      if (isWord) { if (start < 0) start = i }
      else if (start >= 0) {
        val len = i - start
        if (len >= 1 && len <= 5) { // longest stopword is 5 chars
          val t = ls.substring(start, i)
          if (TextStats.En.contains(t)) en += 1
          if (TextStats.De.contains(t)) de += 1
          if (TextStats.Es.contains(t)) es += 1
          if (TextStats.Fr.contains(t)) fr += 1
        }
        start = -1
      }
      i += cc
    }

    val row = InternalRow(en, de, es, fr, cjk, alpha, punct, nws, nbpe)
    m.key = raw.clone()
    m.value = row
    row
  }

  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)
}

object TextStats {
  val schema: StructType = StructType(Seq(
    StructField("en", IntegerType, nullable = false),
    StructField("de", IntegerType, nullable = false),
    StructField("es", IntegerType, nullable = false),
    StructField("fr", IntegerType, nullable = false),
    StructField("cjk", IntegerType, nullable = false),
    StructField("alpha", LongType, nullable = false),
    StructField("punct", LongType, nullable = false),
    StructField("nws", LongType, nullable = false),
    StructField("nbpe", LongType, nullable = false)))

  /** Java regex \s (no UNICODE flag): [ \t\n\x0B\f\r]. */
  @inline def isAsciiSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0b || c == '\f' || c == '\r'

  // Stopword alternations of TextOps.{En,De,Es,Fr}Pat as token sets.
  val En: java.util.Set[String] = java.util.Set.of(
    "the", "and", "of", "to", "is", "in", "that", "it", "with", "for")
  val De: java.util.Set[String] = java.util.Set.of(
    "der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu")
  val Es: java.util.Set[String] = java.util.Set.of(
    "el", "la", "los", "las", "es", "y", "en", "que", "de", "un", "una", "por")
  val Fr: java.util.Set[String] = java.util.Set.of(
    "le", "la", "les", "et", "est", "dans", "que", "une", "des", "du", "pour")

  final class Memo {
    var key: UTF8String = _
    var value: InternalRow = _
  }

  /** One slot per thread, shared across all TextStats instances (every
    * TextOps call builds its own instance; a per-instance slot would
    * never hit across operators in the same projection).
    */
  private[text] val memo: ThreadLocal[Memo] =
    ThreadLocal.withInitial[Memo](() => new Memo)
}
