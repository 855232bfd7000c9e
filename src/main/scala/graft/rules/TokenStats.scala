package graft.rules

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused single-pass token statistics (E2 + E5-dots + E6).
  *
  * The pure-Catalyst form tokenizes the full text with `split` per use and
  * scans a 15-term array per token (`array_contains`) — for a 3,000-token
  * page that is two full tokenizations plus ~90k string comparisons per
  * row. This expression computes word count, physics-term count, math-term
  * count, and dot count in ONE forward scan with hash-set membership.
  *
  * Tokenizer parity: Python `str.split()` / `(?U)\s+` semantics — the
  * Unicode White_Space property. Java's `Character.isWhitespace` differs in
  * exactly two ways (it excludes NBSP-family spaces and includes
  * U+001C–U+001F), both corrected below, so counts match the regex mirrors
  * bit-for-bit (property-tested in StatsFusedSpec).
  */
object TokenStats {

  val PhysicsSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Heuristics.PhysicsTerms.foreach(s.add)
    s
  }
  val MathSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Heuristics.MathTerms.foreach(s.add)
    s
  }

  @inline def isUnicodeWs(c: Char): Boolean =
    (Character.isWhitespace(c) && !(c >= 0x1C && c <= 0x1F)) ||
      c == '\u0085' || c == '\u00A0' || c == '\u2007' || c == '\u202F'

  /** One pass: (word_count, physics_terms, math_terms, dot_count). */
  def compute(s: String): Array[Long] = {
    val out = new Array[Long](4)
    if (s == null || s.isEmpty) return out
    val n = s.length
    var i = 0
    var tokStart = -1
    val tok = new java.lang.StringBuilder(24)
    def endToken(): Unit = {
      if (tokStart >= 0) {
        out(0) += 1
        val w = tok.toString
        if (PhysicsSet.contains(w)) out(1) += 1
        else if (MathSet.contains(w)) out(2) += 1
        tok.setLength(0)
        tokStart = -1
      }
    }
    while (i < n) {
      val c = s.charAt(i)
      if (isUnicodeWs(c)) endToken()
      else {
        if (tokStart < 0) tokStart = i
        tok.append(Character.toLowerCase(c))
        if (c == '.') out(3) += 1
      }
      i += 1
    }
    endToken()
    // dots outside tokens are impossible (non-ws chars are all in tokens),
    // but dots can only be counted inside the loop's else-branch — count is
    // total '.' occurrences, matching length-delta dotCount
    out
  }

  /** Codegen entry: UTF8String in, InternalRow(word, physics, math, dots). */
  def computeRow(u: UTF8String): InternalRow = {
    val a = compute(if (u == null) null else u.toString)
    new GenericInternalRow(Array[Any](a(0), a(1), a(2), a(3)))
  }

  val OutSchema: StructType = StructType(Seq(
    StructField("word_count", LongType, nullable = false),
    StructField("physics_terms", LongType, nullable = false),
    StructField("math_terms", LongType, nullable = false),
    StructField("dot_count", LongType, nullable = false)))

  /** The struct as a native call (the `graft_token_stats` SQL function). */
  def statsCol(text: Column): Column =
    graft.functions.Native(this, "computeRow", OutSchema, text)
}

/** Fused pattern-count battery (E3 math expressions + E4 references + E8
  * equation battery): the Catalyst form runs 10 `regexp_extract_all` passes
  * per row, each MATERIALIZING every match string just to take the array
  * size. This counts the same matches with no substring extraction and one
  * UTF8String→String conversion total. A pattern whose required literal is
  * absent is skipped (its count is 0); the others are tried only where a
  * match can start. `\$[^$]+\$` opens both E3 and E8 and is counted once.
  * Patterns and counting semantics identical to Heuristics (parity-tested).
  */
object PatternCounts {
  import java.util.regex.Pattern

  // E3 and E8 share their first pattern, inline math.
  require(Heuristics.MathPatterns.head == Heuristics.EquationPatterns.head)
  private val Seq(inlineRe, commandRe, decimalRe) = Heuristics.MathPatterns
  private val Seq(_, displayRe, assignmentRe, fracRe, integralRe, sumRe) =
    Heuristics.EquationPatterns

  private final val InlineMath = 0
  private final val Command = 1
  private final val Decimal = 2
  private final val Reference = 3
  private final val DisplayMath = 4
  private final val Assignment = 5
  private final val Frac = 6
  private final val Integral = 7
  private final val Sum = 8
  private val patterns: Array[Pattern] = Array(inlineRe, commandRe, decimalRe,
    Heuristics.RefPatternBasic, displayRe, assignmentRe, fracRe, integralRe, sumRe)
    .map(Pattern.compile)

  @inline private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** Java's `\s` without UNICODE_CHARACTER_CLASS: [ \t\n\x0B\f\r]. */
  @inline private def isSpace(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** Whether a match of pattern k can start at `i`, read off its head: '$',
    * '\', a digit, '[' or '('; an assignment is an ASCII letter whose next
    * non-`\s` char is '='.
    */
  private def canStart(k: Int, s: String, i: Int): Boolean = {
    val c = s.charAt(i)
    k match {
      case InlineMath | DisplayMath => c == '$'
      case Command | Frac | Integral | Sum => c == '\\'
      case Decimal => isDigit(c)
      case Reference => c == '[' || c == '('
      case Assignment =>
        ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) && {
          var j = i + 1
          while (j < s.length && isSpace(s.charAt(j))) j += 1
          j < s.length && s.charAt(j) == '='
        }
    }
  }

  /** Matches of pattern k, as a `find()` loop counts them (every match of
    * these patterns is non-empty).
    */
  private def countOf(k: Int, s: String): Long = {
    val m = patterns(k).matcher(s)
    val at = (i: Int) => canStart(k, s, i)
    var c = 0L
    var from = 0
    while (graft.functions.AnchoredFind.find(m, s, from, at)) {
      c += 1
      from = m.end()
    }
    c
  }

  /** An ASCII digit, '.', an ASCII digit: required by `[0-9]+\.[0-9]+`. */
  private def hasDecimal(s: String): Boolean = {
    var i = s.indexOf('.', 1)
    while (i >= 0 && i + 1 < s.length) {
      if (isDigit(s.charAt(i - 1)) && isDigit(s.charAt(i + 1))) return true
      i = s.indexOf('.', i + 1)
    }
    false
  }

  /** (math_expressions, reference_count, equation_count) in one call. */
  def compute(s: String): Array[Long] = {
    val out = new Array[Long](3)
    if (s == null || s.isEmpty) return out
    val dollar = s.indexOf('$') >= 0
    val backslash = s.indexOf('\\') >= 0
    val inline = if (dollar) countOf(InlineMath, s) else 0L
    out(0) = inline +
      (if (backslash) countOf(Command, s) else 0L) +
      (if (hasDecimal(s)) countOf(Decimal, s) else 0L)
    out(1) =
      if (s.indexOf('[') >= 0 || s.indexOf('(') >= 0) countOf(Reference, s) else 0L
    out(2) = inline +
      (if (dollar && s.contains("$$")) countOf(DisplayMath, s) else 0L) +
      (if (s.indexOf('=') >= 0) countOf(Assignment, s) else 0L) +
      (if (backslash && s.contains("\\frac{")) countOf(Frac, s) else 0L) +
      (if (backslash && s.contains("\\int")) countOf(Integral, s) else 0L) +
      (if (backslash && s.contains("\\sum")) countOf(Sum, s) else 0L)
    out
  }

  def computeRow(u: UTF8String): InternalRow = {
    val a = compute(if (u == null) null else u.toString)
    new GenericInternalRow(Array[Any](a(0), a(1), a(2)))
  }

  val OutSchema: StructType = StructType(Seq(
    StructField("math_expressions", LongType, nullable = false),
    StructField("reference_count", LongType, nullable = false),
    StructField("equation_count", LongType, nullable = false)))

  /** The struct as a native call (the `graft_pattern_counts` SQL
    * function).
    */
  def countsCol(text: Column): Column =
    graft.functions.Native(this, "computeRow", OutSchema, text)
}
