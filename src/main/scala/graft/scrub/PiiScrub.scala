package graft.scrub

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** C13 — PII / toxicity scrub (SURVEY.md §2.3 C13; mandated by
  * BASELINE.json north_rule: "scrubs PII/toxicity with compiled regex
  * automata").
  *
  * Reference analogs: citation/id stripping (enhanced_paper_analyser.py:
  * 905-912), admin-note removal (:174-192), non-ASCII strip
  * (analysis/pdf_processor.py:71). The graft extends those to web-text PII.
  *
  * Implementation: an ordered chain of `regexp_replace` with LITERAL
  * patterns — Spark's RegExpReplace caches the compiled Pattern when the
  * regex is foldable, so each pattern compiles once per task and the chain
  * stays inside whole-stage codegen (SURVEY.md §4 "compile-once regex").
  * The plain-String mirror compiles the same patterns once per JVM.
  */
object PiiScrub {

  // Ordered battery: (pattern, replacement). Order matters — emails before
  // bare domains; IP / SSN / card shapes before the greedy phone pattern
  // (which would otherwise swallow a 16-digit card run or an SSN).
  val Battery: Seq[(String, String)] = Seq(
    // emails
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
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
    "(?i)\\b(" + ToxicTerms.map(java.util.regex.Pattern.quote).mkString("|") + ")\\b"

  def scrub(c: Column): Column = {
    val pii = Battery.foldLeft(c) { case (acc, (p, r)) => regexp_replace(acc, p, r) }
    regexp_replace(pii, ToxicPattern, "<TOXIC>")
  }

  // --- plain-String mirror (compiled once per JVM) ---
  private val compiled = Battery.map { case (p, r) =>
    (java.util.regex.Pattern.compile(p), r)
  }
  private val toxicCompiled = java.util.regex.Pattern.compile(ToxicPattern)

  def scrubStr(t: String): String = {
    if (t == null) return null
    var s = t
    compiled.foreach { case (p, r) =>
      s = p.matcher(s).replaceAll(java.util.regex.Matcher.quoteReplacement(r))
    }
    toxicCompiled.matcher(s).replaceAll("<TOXIC>")
  }
}
