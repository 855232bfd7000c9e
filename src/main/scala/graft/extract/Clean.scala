package graft.extract

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Text-cleaning projections — the "scrub family" (SURVEY.md §2.3, C1–C10).
  *
  * Each cleaner exists twice, sharing the same pattern constants:
  *   - a `Column` form (chained `regexp_replace` — literal patterns, so Spark
  *     compiles each regex once per task and the whole chain stays inside
  *     whole-stage codegen), and
  *   - a plain-`String` form used by the row-at-a-time reference oracle
  *     (graft.oracle.RefOracle) that the F1/byte-identity tests compare
  *     against.
  *
  * Unicode note: Python's `re` `\s` is Unicode-aware; Java's default `\s` is
  * ASCII-only. We pin Java to Python semantics with the `(?U)` flag
  * (UNICODE_CHARACTER_CLASS) everywhere the reference used `\s`. Divergence
  * (documented): U+001C–U+001F are whitespace to Python but not to Unicode's
  * White_Space property; the fixture generator never emits them.
  */
object Clean {

  // ---- shared pattern constants (reference file:line in comments) ----
  private[graft] val WsRun = "(?U)\\s+" // python \s+ (unicode)
  private[graft] val NonAscii = "[^\\x00-\\x7F]+" // pdf_processor.py:71

  /** Mirror of Spark's `lower()` (`UTF8String.toLowerCase`, spark-unsafe
    * 4.1.2): full-ASCII input byte-folds A-Z locale-independently;
    * anything else takes default-locale `String.toLowerCase()`
    * (`toLowerCaseSlow`). Plain `s.toLowerCase` in a mirror diverges
    * from the Column form under tr/az default locales, where ASCII 'I'
    * lowers to 'ı' even on pure-ASCII strings.
    */
  @inline private[graft] def sparkLower(s: String): String = {
    var i = 0
    var ascii = true
    while (ascii && i < s.length) {
      if (s.charAt(i) >= 0x80) ascii = false
      i += 1
    }
    if (ascii) s.toLowerCase(java.util.Locale.ROOT) else s.toLowerCase()
  }

  /** Mirror of Spark's `substring(c, 1, len)` prefix: Spark counts CODE
    * POINTS (UTF8String.substringSQL) while Java's `String.substring`
    * counts UTF-16 units — they differ once astral characters appear
    * before the cut. O(len), not O(|s|): a string of ≤ len UTF-16 units
    * cannot exceed len code points.
    */
  @inline private[graft] def sparkSubstr(s: String, len: Int): String = {
    if (s.length <= len) return s
    var idx = 0
    var cp = 0
    while (cp < len && idx < s.length) {
      idx = s.offsetByCodePoints(idx, 1)
      cp += 1
    }
    if (idx >= s.length) s else s.substring(0, idx)
  }

  // ---------------------------------------------------------------------
  // C1 — basic clean (reference: analysis/pdf_processor.py:67-73)
  // order: \s+ -> ' ' ; strip non-ASCII ; ligatures ; strip
  // ---------------------------------------------------------------------
  def basicClean(c: Column): Column = {
    val s1 = regexp_replace(c, WsRun, " ")
    val s2 = regexp_replace(s1, NonAscii, "")
    val s3 = regexp_replace(regexp_replace(s2, "ﬁ", "fi"), "ﬂ", "fl")
    trim(s3)
  }

  def basicCleanStr(t: String): String = {
    if (t == null) return ""
    var s = t.replaceAll(WsRun, " ")
    s = s.replaceAll(NonAscii, "")
    s = s.replace("ﬁ", "fi").replace("ﬂ", "fl")
    s.trim
  }
  // NOTE: ligature replacement after the non-ASCII strip is a faithful
  // reproduction of the reference's order (pdf_processor.py:70-72): the
  // ligatures are already removed by the non-ASCII strip, so the replaces
  // are dead code there too. Kept for byte-identical parity.

  /** Single-pass C1: identical output to basicCleanStr (two regex rewrites
    * fused into one scan — the pipeline hot path). Key subtlety preserved:
    * the reference collapses \s+ BEFORE stripping non-ASCII, so a ws-run
    * broken by a non-ASCII char yields TWO spaces; emitting one space per
    * ws-RUN (not per gap) reproduces that exactly (equality property-tested
    * in StatsFusedSpec).
    */
  def basicCleanFastStr(t: String): String = {
    if (t == null || t.isEmpty) return ""
    val n = t.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    var prevWs = false
    while (i < n) {
      val c = t.charAt(i)
      if (graft.rules.TokenStats.isUnicodeWs(c)) {
        if (!prevWs) sb.append(' ')
        prevWs = true
      } else {
        prevWs = false
        if (c <= 0x7F) sb.append(c)
      }
      i += 1
    }
    sb.toString.trim
  }

  /** `basicCleanFastStr` as a native call (the `graft_basic_clean` SQL
    * function).
    */
  def basicCleanFastCol(c: Column): Column =
    graft.functions.Native(this, "basicCleanUtf8", StringType, c)

  def basicCleanUtf8(u: UTF8String): UTF8String =
    UTF8String.fromString(basicCleanFastStr(u.toString))

  // ---------------------------------------------------------------------
  // C4 — title scrub (reference: enhanced_paper_analyser.py:174-192)
  // ---------------------------------------------------------------------
  val TitleDefault = "Physics paper (title not clearly specified)"
  val TitleMissing = "Title not available"

  def titleClean(c: Column): Column = {
    val cleaned = trim(regexp_replace(
      regexp_replace(
        regexp_replace(c, "(?i)\\(Note by viXra Admin:.*?\\)", ""),
        "(?i)^\\d+\\s+Pages?\\.\\s*", ""),
      WsRun, " "))
    when(c.isNull, lit(TitleMissing))
      .when(length(cleaned) < 10, lit(TitleDefault))
      .otherwise(cleaned)
  }

  def titleCleanStr(t: String): String = {
    if (t == null || t.isEmpty) return TitleMissing
    var s = t.replaceAll("(?i)\\(Note by viXra Admin:.*?\\)", "")
    s = s.replaceAll("(?i)^\\d+\\s+Pages?\\.\\s*", "")
    s = s.replaceAll(WsRun, " ").trim
    if (s.isEmpty || s.length < 10) TitleDefault else s
  }

  // ---------------------------------------------------------------------
  // C4b — training-title scrub (enhanced_paper_analyser.py:866-878): same
  // regex battery as C4 but default "Physics paper" at threshold 5.
  // ---------------------------------------------------------------------
  val TrainingTitleDefault = "Physics paper"

  def titleCleanTraining(c: Column): Column = {
    val cleaned = trim(regexp_replace(
      regexp_replace(
        regexp_replace(c, "(?i)\\(Note by viXra Admin:.*?\\)", ""),
        "(?i)^\\d+\\s+Pages?\\.\\s*", ""),
      WsRun, " "))
    when(c.isNull || length(cleaned) < 5, lit(TrainingTitleDefault))
      .otherwise(cleaned)
  }

  // ---------------------------------------------------------------------
  // C5 — abstract truncate (reference: enhanced_paper_analyser.py:194-203)
  // ---------------------------------------------------------------------
  def abstractTruncate(c: Column): Column =
    when(length(c) > 1000, concat(substring(c, 1, 1000), lit("...")))
      .otherwise(c)

  def abstractTruncateStr(t: String): String =
    if (t == null) null
    else if (t.length > 1000) t.substring(0, 1000) + "..."
    else t

  // ---------------------------------------------------------------------
  // C6 — training-text clean (reference: enhanced_paper_analyser.py:895-916)
  // utf-8 ignore re-encode is a no-op on a valid String column (documented);
  // \s+ collapse; `$..$` normalize (identity rewrite, kept for parity);
  // strip [n] citations, `Page n of m`, `Figure n`; strip.
  // ---------------------------------------------------------------------
  def trainingClean(c: Column): Column = {
    var s = regexp_replace(c, WsRun, " ")
    s = regexp_replace(s, "\\$([^$]+)\\$", "\\$$1\\$")
    s = regexp_replace(s, "\\[\\d+\\]", "")
    s = regexp_replace(s, "Page \\d+ of \\d+", "")
    s = regexp_replace(s, "Figure \\d+", "")
    trim(s)
  }

  def trainingCleanStr(t: String): String = {
    if (t == null || t.isEmpty) return ""
    var s = t.replaceAll(WsRun, " ")
    s = s.replaceAll("\\$([^$]+)\\$", "\\$$1\\$")
    s = s.replaceAll("\\[\\d+\\]", "")
    s = s.replaceAll("Page \\d+ of \\d+", "")
    s = s.replaceAll("Figure \\d+", "")
    s.trim
  }

  // ---------------------------------------------------------------------
  // C10 — raw-text limiter (reference: enhanced_paper_analyser.py:881-893)
  // ---------------------------------------------------------------------
  def limitRawText(c: Column): Column =
    trim(when(length(c) > 1500, concat(substring(c, 1, 1500), lit("...")))
      .otherwise(c))

  def limitRawTextStr(t: String): String = {
    if (t == null) return ""
    // mirror the Column form exactly: `length`/`substring` count code
    // points (UTF8String.numChars/substringSQL), `trim` strips ' ' only.
    // O(min(n, 1500)): ≤1500 UTF-16 units can't exceed 1500 code points,
    // and the walk stops at the 1500th code point either way
    val s =
      if (t.length <= 1500) t
      else {
        var idx = 0
        var cp = 0
        while (cp < 1500 && idx < t.length) {
          idx = t.offsetByCodePoints(idx, 1)
          cp += 1
        }
        if (idx >= t.length) t else t.substring(0, idx) + "..."
      }
    var a = 0; var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  // ---------------------------------------------------------------------
  // C8 — equation clean (reference: analysis/enhanced_benchmark_builder.py:502-508)
  // whitespace collapse; charset whitelist strip.
  // ---------------------------------------------------------------------
  /** Shared with the SQL oracles (q41) — one source of truth for the
    * whitelist class.
    */
  private[graft] val EqStripClass = "[^\\w\\s=+\\-*/(){}\\\\.,∇∂∫α-ωΑ-Ω]"

  def equationClean(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, WsRun, " "), EqStripClass, ""))
}
