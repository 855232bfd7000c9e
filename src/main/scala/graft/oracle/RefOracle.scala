package graft.oracle

import graft.extract.{Clean, HtmlText}
import graft.lang.LangId
import graft.rules.Heuristics
import graft.score.{Perplexity, Score, Stages}
import graft.scrub.PiiScrub

/** The row-at-a-time deterministic reference oracle (SURVEY.md §5.2).
  *
  * This is the sequential, object-at-a-time re-statement of the reference's
  * semantics (the rule set of nesar/paper_quality_filter with the LLM stages
  * replaced by the deterministic models, per BASELINE.json north_rule). The
  * Spark pipeline (graft.Pipeline) must reproduce its keep/drop labels at
  * F1 >= 0.99 and its extracted text byte-identically — that comparison is
  * the correctness gate in the test suite.
  *
  * It intentionally mirrors the reference's control flow (a straight-line
  * per-document function, cf. paper_analyser.py:87-128) rather than the
  * Spark plan, so the two implementations are structurally independent.
  */
object RefOracle {

  final case class Labels(
      url: String,
      ref_text: String,
      ref_lang: String,
      ref_eligible: Boolean,
      ref_stage1_pass: Boolean,
      ref_sophistication: Double,
      ref_avg_stage2: Double,
      ref_recommendation: String,
      ref_score: Double,
      ref_keep: Boolean,
      ref_scrubbed: String,
      ref_issues: Seq[String])

  private lazy val pplModel = Perplexity.buildModel()
  private lazy val langModel = LangId.buildModel()

  /** Assess one raw document exactly as the (determinized) reference would:
    * extract → clean → langid → gates → stage1 → stage2 → stage3 → score.
    */
  def assess(url: String, html: Array[Byte]): Labels = {
    // E1 + C1 (pdf_processor.py:25-73)
    val text = Clean.basicCleanStr(HtmlText.extract(html))

    // P4 langid
    val lang = langModel.predict(text)

    // Suitability gates (enhanced_paper_analyser.py:145-172)
    val isVixra = url != null && url.toLowerCase(java.util.Locale.ROOT).contains("vixra")
    val enThreshold = if (isVixra) 2 else 3
    val termThreshold = if (isVixra) 1 else 2
    // Python slices by code points and str.lower() ~ ROOT lowercase
    val sample = graft.extract.Clean.sparkSubstr(text, 1000)
      .toLowerCase(java.util.Locale.ROOT)
    val enCount = LangId.englishStopwordCountStr(text)
    val termCount =
      Heuristics.termCountStr(sample, Heuristics.PhysicsIndicators) +
        Heuristics.termCountStr(sample, Heuristics.VixraIndicators)
    val eligible = text.trim.length >= 300 && enCount >= enThreshold &&
      termCount >= termThreshold

    // E2–E9 stats (pdf_processor.py:75-89, 192-250)
    val wc = Heuristics.wordCountStr(text)
    val pt = Heuristics.tokenMembershipCountStr(text, Heuristics.PhysicsTerms)
    val mt = Heuristics.tokenMembershipCountStr(text, Heuristics.MathTerms)
    val density = Heuristics.physicsDensityStr(pt, mt, wc)
    val eq = Heuristics.equationCountStr(text)
    val refs = Heuristics.referenceCountStr(text)
    val mathExpr = Heuristics.mathExpressionCountStr(text)

    // M1 stage 1 (classifier.py:123-191 determinized)
    val soph = Stages.sophisticationStr(density, eq, refs, wc)
    val stage1Pass = eligible && soph >= Stages.Stage1Threshold

    // M2 stage 2 — perplexity only computed for stage-1 survivors
    // (cheap-first gating, classifier.py:102-104)
    val ppl = if (stage1Pass) pplModel.score(text) else Perplexity.MaxPpl
    val me = Stages.dimMathErrorsStr(mathExpr, wc)
    val pa = Stages.dimPhysicsAssumptionsStr(text)
    val lc = Stages.dimLogicalConsistencyStr(ppl, text)
    val li = Stages.dimLiteratureIntegrationStr(refs, text)
    val avg2 = Stages.avgStage2Str(me, pa, lc, li)

    // M3 + M4 + P1 (classifier.py:260-352; paper_analyser.py:128)
    val rec = Stages.recommendationStr(stage1Pass, soph, avg2)
    val score = Score.overallStr(stage1Pass, soph, avg2, rec)
    val keep = score >= Score.KeepThreshold

    // C13 scrub
    val scrubbed = PiiScrub.scrubStr(text)

    val issues = Stages.subtleIssuesStr(me, pa, lc, li)

    Labels(url, text, lang, eligible, stage1Pass, soph, avg2, rec, score, keep,
      scrubbed, issues)
  }
}
