package graft.score

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.rules.Heuristics

/** M1 / M3 — the deterministic replacements for the reference's LLM stages
  * (SURVEY.md §2.7). Stage shapes, gating, defaults, and the combination
  * formula are the reference's; the scoring functions themselves are local
  * deterministic models per BASELINE.json north_rule.
  *
  * Every function exists as a Column expression AND a plain-Scala mirror
  * (used by the oracle); both compute the identical double arithmetic in the
  * identical order, so labels agree bit-for-bit.
  */
object Stages {

  // ------------------------------------------------------------------
  // M1 — stage-1 sophistication gate (replaces analysis/classifier.py:123-191;
  // prompt threshold 0.4 at prompts/classifier_prompts.py:21).
  // soph = min(1, 0.4*min(1, density/5) + 0.3*min(1, eq/10)
  //            + 0.2*min(1, refs/10) + 0.1*min(1, words/2000))
  // ------------------------------------------------------------------
  val Stage1Threshold = 0.4

  def sophistication(density: Column, eqCount: Column, refCount: Column,
                     wordCount: Column): Column =
    least(lit(1.0),
      least(lit(1.0), density / 5.0) * 0.4 +
        least(lit(1.0), eqCount.cast("double") / 10.0) * 0.3 +
        least(lit(1.0), refCount.cast("double") / 10.0) * 0.2 +
        least(lit(1.0), wordCount.cast("double") / 2000.0) * 0.1)

  def sophisticationStr(density: Double, eqCount: Long, refCount: Long,
                        wordCount: Long): Double =
    math.min(1.0,
      math.min(1.0, density / 5.0) * 0.4 +
        math.min(1.0, eqCount.toDouble / 10.0) * 0.3 +
        math.min(1.0, refCount.toDouble / 10.0) * 0.2 +
        math.min(1.0, wordCount.toDouble / 2000.0) * 0.1)

  def stage1Pass(soph: Column): Column = soph >= Stage1Threshold

  // ------------------------------------------------------------------
  // M2 — the four stage-2 dimensions, 1..10 each (shape per
  // prompts/classifier_prompts.py:98-103; parse-failure default 5 per
  // analysis/classifier.py:229-238 — here: empty text → 5.0 each).
  //
  // mathematical_errors     ← math-expression density per 100 words
  // physics_assumptions     ← assumption-term presence count
  // logical_consistency     ← hashed n-gram perplexity (M2 proper)
  // literature_integration  ← reference count
  // ------------------------------------------------------------------
  val AssumptionTerms: Seq[String] = Seq(
    "assume", "assuming", "assumption", "consider", "considering",
    "suppose", "neglect", "neglecting", "approximation", "ideal")

  private def clamp110(c: Column): Column = greatest(lit(1.0), least(lit(10.0), c))
  private def clamp110d(v: Double): Double = math.max(1.0, math.min(10.0, v))

  def dimMathErrors(mathExpr: Column, words: Column): Column = {
    val density = mathExpr.cast("double") / greatest(words, lit(1L)).cast("double") * 100.0
    when(words === 0L, lit(5.0)).otherwise(clamp110(lit(10.0) - floor(density)))
  }
  def dimMathErrorsStr(mathExpr: Long, words: Long): Double =
    if (words == 0L) 5.0
    else clamp110d(10.0 - math.floor(mathExpr.toDouble / math.max(words, 1L) * 100.0))

  private[graft] val AssumptionSample = new Heuristics.TermSample(5000, AssumptionTerms)

  def dimPhysicsAssumptions(text: Column): Column = {
    val cnt = AssumptionSample.count(AssumptionSample.mask(text), AssumptionTerms)
    when(length(trim(text)) === 0, lit(5.0))
      .otherwise(clamp110(lit(10.0) - cnt.cast("double")))
  }
  def dimPhysicsAssumptionsStr(text: String): Double = {
    if (text == null || text.trim.isEmpty) return 5.0
    val cnt = Heuristics.termCountStr(Heuristics.lowerPrefixStr(text, 5000), AssumptionTerms)
    clamp110d(10.0 - cnt.toDouble)
  }

  /** Perplexity → 1..10. Fluent (low-ppl) text scores high consistency.
    * ln(ppl) for common English against the embedded model lands ~4–7;
    * junk lands 10+.
    */
  def dimLogicalConsistency(ppl: Column, text: Column): Column =
    when(length(trim(text)) === 0, lit(5.0))
      .otherwise(clamp110(lit(16.0) - floor(log(ppl) * 1.5)))
  def dimLogicalConsistencyStr(ppl: Double, text: String): Double =
    if (text == null || text.trim.isEmpty) 5.0
    else clamp110d(16.0 - math.floor(math.log(ppl) * 1.5))

  def dimLiteratureIntegration(refCount: Column, text: Column): Column =
    when(length(trim(text)) === 0, lit(5.0))
      .otherwise(clamp110(lit(1.0) + refCount.cast("double")))
  def dimLiteratureIntegrationStr(refCount: Long, text: String): Double =
    if (text == null || text.trim.isEmpty) 5.0
    else clamp110d(1.0 + refCount.toDouble)

  /** avg of the 4 dims — reference: sum(values)/len at classifier.py:336. */
  def avgStage2(me: Column, pa: Column, lc: Column, li: Column): Column =
    (me + pa + lc + li) / 4.0
  def avgStage2Str(me: Double, pa: Double, lc: Double, li: Double): Double =
    (me + pa + lc + li) / 4.0

  /** Deterministic subtle_issues[] (replaces the stage-2 LLM's issue list,
    * models/paper.py:29): one fixed issue string per dimension scoring >= 7
    * — high stage-2 scores mean MORE problems under the M4 inversion
    * (classifier.py:337-338), so the flagged dimensions ARE the issues.
    */
  val IssueThreshold = 7.0
  private val IssueLabels = Seq(
    "potential mathematical errors",
    "questionable physics assumptions",
    "logical consistency concerns",
    "weak literature integration")

  def subtleIssues(me: Column, pa: Column, lc: Column, li: Column): Column = {
    // a concat of one-element or empty arrays compiles inside the fused
    // span (a `filter` lambda would run interpreted, outside it); the empty
    // literal's element type keeps the column array<string> with
    // containsNull, as the reference's filtered array of nullable strings
    val none = typedLit(Seq.empty[String])
    concat(Seq(me, pa, lc, li).zip(IssueLabels).map { case (d, l) =>
      when(d >= IssueThreshold, array(lit(l))).otherwise(none)
    }: _*)
  }

  def subtleIssuesStr(me: Double, pa: Double, lc: Double, li: Double): Seq[String] =
    Seq(me, pa, lc, li).zip(IssueLabels)
      .collect { case (d, l) if d >= IssueThreshold => l }

  // ------------------------------------------------------------------
  // M3 — stage-3 recommendation enum (replaces classifier.py:260-325;
  // enum at prompts/classifier_prompts.py:143-148, default
  // EDUCATIONAL_FAILURE on parse failure at classifier.py:296-302).
  // Deterministic decision tree over (soph, avg2).
  // ------------------------------------------------------------------
  def recommendation(stage1Pass: Column, soph: Column, avg2: Column): Column =
    when(!stage1Pass, lit("REJECT"))
      .when(soph >= 0.75 && avg2 <= 4.0, lit("SOPHISTICATED_ERROR"))
      .when(soph >= 0.6 && avg2 <= 5.0, lit("CREATIVE_APPROACH"))
      .when(avg2 <= 6.0, lit("EDUCATIONAL_FAILURE"))
      .when(soph >= 0.5, lit("BORING_MISTAKE"))
      .otherwise(lit("REJECT"))

  def recommendationStr(stage1Pass: Boolean, soph: Double, avg2: Double): String =
    if (!stage1Pass) "REJECT"
    else if (soph >= 0.75 && avg2 <= 4.0) "SOPHISTICATED_ERROR"
    else if (soph >= 0.6 && avg2 <= 5.0) "CREATIVE_APPROACH"
    else if (avg2 <= 6.0) "EDUCATIONAL_FAILURE"
    else if (soph >= 0.5) "BORING_MISTAKE"
    else "REJECT"
}
