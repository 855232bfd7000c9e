package graft.scrub

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{AnchoredFind, Native}

/** C13 — PII / toxicity scrub (SURVEY.md §2.3 C13; mandated by
  * BASELINE.json north_rule: "scrubs PII/toxicity with compiled regex
  * automata").
  *
  * Reference analogs: citation/id stripping (enhanced_paper_analyser.py:
  * 905-912), admin-note removal (:174-192), non-ASCII strip
  * (analysis/pdf_processor.py:71). The graft extends those to web-text PII.
  *
  * One production path: `scrub` is a native call of `scrubKernel` — the
  * ordered battery, where a pass runs only when the row holds a literal
  * every match of it contains, and tries its pattern only where a match
  * can start (the email pass: from each '@').
  * `scrubStr` is the plain unguarded chain of `replaceAll` passes; the
  * reference oracle and the parity specs compare the kernel against it.
  * DuckDB checks the kernel end to end through q15 and q52, whose oracle
  * SQL is the same battery as a `regexp_replace` chain.
  */
object PiiScrub {

  /** The email local part and domain, kept apart so the anchored email
    * pass can match the domain on its own. Neither class admits '@'.
    */
  private val EmailLocal = "[A-Za-z0-9._%+-]"
  private val EmailDomain = "[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  // Ordered battery: (pattern, replacement). Order matters — emails before
  // bare domains; IP / SSN / card shapes before the greedy phone pattern
  // (which would otherwise swallow a 16-digit card run or an SSN).
  val Battery: Seq[(String, String)] = Seq(
    // emails
    (s"$EmailLocal+@$EmailDomain", "<EMAIL>"),
    // IPv4 (word-bounded, each octet 1-3 digits)
    ("\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>"),
    // SSN-shaped
    ("\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"),
    // 13-19 digit card-like runs
    ("\\b\\d{13,19}\\b", "<CARD>"),
    // international + US-style phone numbers (7+ digits with separators)
    ("\\+?\\d[\\d\\s().-]{6,}\\d", "<PHONE>")
  )

  /** Small toxic-term lexicon (word-bounded, case-insensitive). The list is
    * intentionally mild/representative — the mechanism (multi-term single
    * alternation compiled once) is what scales to a real lexicon.
    */
  val ToxicTerms: Seq[String] = Seq(
    "idiot", "moron", "stupid", "hate", "kill yourself", "dumbass")

  val ToxicPattern: String =
    "(?i)\\b(" + ToxicTerms.map(Pattern.quote).mkString("|") + ")\\b"

  /** The scrub as a Column: the native kernel, no function registration
    * needed.
    */
  def scrub(c: Column): Column = Native(this, "scrubUtf8", StringType, c)

  def scrubUtf8(u: UTF8String): UTF8String =
    UTF8String.fromString(scrubKernel(u.toString))

  // Battery passes in order, the toxic pass last (compiled once per JVM).
  private val passes: Array[(Pattern, String)] =
    (Battery :+ (ToxicPattern, "<TOXIC>")).map { case (p, r) =>
      (Pattern.compile(p), Matcher.quoteReplacement(r))
    }.toArray

  /** Reference: every pass of the battery as a plain `replaceAll`, over
    * every row.
    */
  def scrubStr(t: String): String = {
    if (t == null) return null
    var s = t
    passes.foreach { case (p, r) => s = p.matcher(s).replaceAll(r) }
    s
  }

  // Guard bits, one per pass, in pass order. Bit k set means pass k can
  // match: its guard is a condition every match of the pass satisfies.
  private final val EmailG = 1 << 0  // '@'
  private final val Ipv4G = 1 << 1   // ASCII digit immediately followed by '.'
  private final val SsnG = 1 << 2    // ASCII digit immediately followed by '-'
  private final val CardG = 1 << 3   // run of >= 13 ASCII digits
  private final val PhoneG = 1 << 4  // run of >= 8 chars of [0-9\s().-]
  private final val ToxicG = 1 << 5  // a toxic term, ASCII case folded
  private[graft] val PassCount = passes.length

  // `(?i)` without UNICODE_CASE folds ASCII letters only: U+212A (Kelvin
  // sign) does not match 'k', nor U+0130 'i'. The terms are lowercase.
  private val toxicTerms: Array[String] = ToxicTerms.toArray

  @inline private def asciiLower(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  // ASCII char classes. Java's `\d` and `\s` without
  // UNICODE_CHARACTER_CLASS are ASCII only, so no other char is in them.
  private final val DigitC = 1    // [0-9]
  private final val PhoneC = 2    // [0-9\s().-], the phone pattern's class
  private final val TermHeadC = 4 // a toxic term's first letter, either case
  private val asciiClass: Array[Int] = Array.tabulate(128) { i =>
    val c = i.toChar
    (if (c >= '0' && c <= '9') DigitC else 0) |
      (if ((c >= '0' && c <= '9') || " \t\n\u000B\f\r().-".indexOf(c) >= 0) PhoneC else 0) |
      (if (toxicTerms.exists(_.charAt(0) == asciiLower(c))) TermHeadC else 0)
  }

  @inline private def classOf(c: Char): Int = if (c < 128) asciiClass(c) else 0

  @inline private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** Whether a toxic term, ASCII case folded, starts at `i`. */
  private def termAt(s: String, i: Int): Boolean = {
    val c = asciiLower(s.charAt(i))
    var k = 0
    while (k < toxicTerms.length) {
      val w = toxicTerms(k)
      if (w.charAt(0) == c && i + w.length <= s.length) {
        var j = 1
        while (j < w.length && asciiLower(s.charAt(i + j)) == w.charAt(j)) j += 1
        if (j == w.length) return true
      }
      k += 1
    }
    false
  }

  /** The guard bits of `s`, in one scan. */
  private[graft] def guards(s: String): Int = {
    var g = if (s.indexOf('@') >= 0) EmailG else 0
    var digits = 0
    var phoneRun = 0
    val n = s.length
    var i = 0
    while (i < n) {
      val k = classOf(s.charAt(i))
      if ((k & DigitC) != 0) {
        digits += 1
        if (digits >= 13) g |= CardG
        if (i + 1 < n) {
          val d = s.charAt(i + 1)
          if (d == '.') g |= Ipv4G else if (d == '-') g |= SsnG
        }
      } else digits = 0
      if ((k & PhoneC) != 0) {
        phoneRun += 1
        if (phoneRun >= 8) g |= PhoneG
      } else phoneRun = 0
      if ((k & TermHeadC) != 0 && (g & ToxicG) == 0 && termAt(s, i)) g |= ToxicG
      i += 1
    }
    g
  }

  @inline private def isEmailLocal(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || isDigit(c) ||
      c == '.' || c == '_' || c == '%' || c == '+' || c == '-'

  private val emailDomain = Pattern.compile(EmailDomain)

  /** Pass 0, equal to its `replaceAll`, found from each '@' instead of by
    * retrying the pattern at every character.
    *
    * Neither class admits '@', so a match holds exactly one '@', and a
    * match starting at p needs every char from p to the '@' in the local
    * class: a shorter local part is followed by a class char, never by
    * '@'. The leftmost match for an '@' therefore starts at the first char
    * of the maximal local-class run before it, clipped to the previous
    * match's end, and exists iff that run is non-empty and the domain
    * matches right after the '@'. The domain has no anchors, boundaries or
    * lookaround, so `lookingAt` on the region after the '@' gives the full
    * pattern's end.
    */
  private def replaceEmails(s: String): String = {
    val n = s.length
    var at = s.indexOf('@')
    var last = 0
    var sb: java.lang.StringBuilder = null
    val m = emailDomain.matcher(s)
    while (at >= 0) {
      var start = at
      while (start > last && isEmailLocal(s.charAt(start - 1))) start -= 1
      if (start < at && m.region(at + 1, n).lookingAt()) {
        if (sb == null) sb = new java.lang.StringBuilder(n)
        sb.append(s, last, start).append(passes(0)._2)
        last = m.end()
        at = s.indexOf('@', last)
      } else at = s.indexOf('@', at + 1)
    }
    if (sb == null) s else sb.append(s, last, n).toString
  }

  /** Whether a match of pass k (1 to 5) can start at `i`: a condition every
    * match start satisfies, read off the pattern's head.
    *  - IPv4, SSN, card open with `\b\d`: an ASCII digit whose left
    *    neighbour is no ASCII digit (a digit is a word char, so two digits
    *    have no boundary between them);
    *  - phone opens with `\+?\d`: '+' or an ASCII digit;
    *  - toxic opens with `\b(` a term `)`: a term, ASCII case folded.
    */
  private def canStart(k: Int, s: String, i: Int): Boolean = {
    val c = s.charAt(i)
    k match {
      case 1 | 2 | 3 => isDigit(c) && (i == 0 || !isDigit(s.charAt(i - 1)))
      case 4 => c == '+' || isDigit(c)
      case 5 => (classOf(c) & TermHeadC) != 0 && termAt(s, i)
    }
  }

  /** Pass k (1 to 5), equal to its `replaceAll`: the pattern is tried only
    * where `canStart` holds. Every match is non-empty, so the next match is
    * searched from the end of the last, as `replaceAll` does.
    */
  private def replaceAnchored(k: Int, s: String): String = {
    val (p, r) = passes(k)
    val m = p.matcher(s)
    val at = (i: Int) => canStart(k, s, i)
    var last = 0
    var sb: java.lang.StringBuilder = null
    while (AnchoredFind.find(m, s, last, at)) {
      if (sb == null) sb = new java.lang.StringBuilder(s.length)
      sb.append(s, last, m.start()).append(r)
      last = m.end()
    }
    if (sb == null) s else sb.append(s, last, s.length).toString
  }

  // No pass creates a guard hit: a replacement tag holds none, and its end
  // chars ('<', '>') are in no guard's char set, so no hit can span a tag
  // edge. A guard false on the input stays false on the string each later
  // pass sees.
  require(passes.forall { case (_, r) =>
    guards(r) == 0 &&
      Seq(r.head, r.last).forall(c => classOf(c) == 0 && !c.isLetter && c != '@')
  })

  /** Production kernel, equal to `scrubStr` on every string: the guards are
    * read once, on the input (see the `require` above), and each pass runs
    * only when its guard holds, trying its pattern only where a match can
    * start.
    */
  def scrubKernel(t: String): String = {
    if (t == null) return null
    val g = guards(t)
    var s = t
    var k = 0
    while (k < PassCount) {
      if ((g & (1 << k)) != 0)
        s = if (k == 0) replaceEmails(s) else replaceAnchored(k, s)
      k += 1
    }
    s
  }
}
