package graft.derive

import DeriveHelpers._

import java.util.regex.Pattern

import graft.extract.Clean.sparkLower
import graft.rules.Heuristics.termCountStr
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-block UG training processing — same motivation and mirror
  * rules as [[RlExample]] (that scaladoc documents the mirrored Spark
  * semantics). Three native calls:
  *
  *   - `derivationCleanCol`: Gates.derivationClean in one compiled pass
  *     (null coalesces to "");
  *   - `completeDerivationCol`: candidate → derivation-cleaned text if
  *     it passes the completeness predicate, else null (the per-candidate
  *     body of ugFindCompleteDerivations);
  *   - `metaCol`: (cleaned block, subject) → the whole per-block
  *     metadata struct (problem statement, solution steps, difficulty,
  *     topic, reasoning type, prerequisites, concepts, raw text) that
  *     ugTrainingExamples previously assembled from eight separate
  *     interpreted Column chains.
  *
  * Column forms stay in UgBuilders/Gates/Extract (they also feed the
  * q45/q49 oracles) and UgExampleParitySpec proves byte-identical
  * outputs. Reference trace: enhanced_paper_analyser.py:1134-1410.
  */
object UgExample {

  // ---- shared helpers (see RlExample for the semantics notes) ------

  @inline private def nchars(s: String): Int =
    s.codePointCount(0, s.length)

  private val wsSplit = Pattern.compile("(?U)\\s+")

  // ---- Gates.isMeaningfulSentence / Gates.derivationClean ----------

  def isMeaningfulSentence(s: String): Boolean = {
    if (s == null) return false
    val t = spaceTrim(s)
    val words = if (nchars(t) == 0) Array.empty[String] else wsSplit.split(t, -1)
    nchars(s) >= 15 && words.length >= 3 && {
      val lo = sparkLower(s)
      Gates.MeaningfulSentenceWords.exists(lo.contains)
    }
  }

  private val dcReplacements: Seq[(Pattern, String)] = Seq(
    Pattern.compile("[^\\x00-\\x7F]+") -> "",
    Pattern.compile("(?U)\\s+") -> " ",
    Pattern.compile("\\.{3,}") -> "...",
    Pattern.compile("(?<=[a-z])(?=[A-Z])") -> " ",
    Pattern.compile("\\[\\d+\\]") -> "",
    Pattern.compile("Page\\s+\\d+") -> "",
    Pattern.compile("Fig\\.\\s*\\d+") -> "",
    Pattern.compile("Eq\\.\\s*\\(\\d+\\)") -> "")
  private val dotSplit = Pattern.compile("\\.")

  def derivationClean(c: String): String = {
    if (c == null) return ""
    var s = c
    dcReplacements.foreach { case (p, r) => s = p.matcher(s).replaceAll(r) }
    val sentences = ArrayBuffer.empty[String]
    dotSplit.split(s, -1).foreach { raw =>
      val x = spaceTrim(raw)
      if (nchars(x) > 10 && isMeaningfulSentence(x)) sentences += x
    }
    if (sentences.nonEmpty) sentences.mkString(". ") + "." else ""
  }

  // ---- UgBuilders.isCompleteDerivation -----------------------------

  def isCompleteDerivation(c: String): Boolean = {
    val lo = sparkLower(c)
    nchars(c) >= 100 &&
      UgBuilders.UgCompleteStarters.exists(lo.contains) &&
      UgBuilders.UgCompleteConclusions.exists(lo.contains) &&
      (UgBuilders.UgCompleteMath.exists(lo.contains) ||
        UgBuilders.UgCompletePhys.exists(lo.contains))
  }

  /** The per-candidate body of ugFindCompleteDerivations: clean, then
    * keep only complete derivations.
    */
  def completeDerivation(m: String): String = {
    val cleaned = derivationClean(m)
    if (isCompleteDerivation(cleaned)) cleaned else null
  }

  // ---- anchor guards for the per-candidate regex batteries ---------
  // (see AnchorGuard for the necessary-literal argument and the
  // profile numbers; step1/step6 literals occur in 0% of gated blocks,
  // step3 66%, stmt1 54% — NOTES.md, round 4)

  import AnchorGuard.{anchored, asciiLower}

  private[graft] val StepAnchors: Array[Array[Array[String]]] = Array(
    Array(Array("step", "first", "initially", "next", "then", "finally")),
    Array(Array("using", "applying", "from", "by"),
      Array("equation", "formula", "law", "principle", "conservation")),
    Array(Array("substituting", "setting", "with", "given"), Array("=")),
    Array(Array("therefore", "thus", "hence", "we obtain", "we get",
      "this gives")),
    Array(Array("the", "a", "an"),
      Array("energy", "force", "momentum", "velocity", "acceleration")),
    Array(Array("solving", "calculating", "finding", "determining")))

  private[graft] val StmtAnchors: Array[Array[Array[String]]] = Array(
    Array(Array("problem", "question")),
    Array(Array("given", "consider", "find", "calculate", "determine",
      "show", "prove")),
    Array(Array("a"), Array("particle", "wave", "field", "system")))

  private[graft] val ConceptAnchors: Array[Array[Array[String]]] = Array(
    Array(Array("conservation of", "principle of", "law of")),
    Array(Array("theorem", "equation", "formula", "relation",
      "transformation")),
    Array(Array("model", "theory", "approximation", "method")))

  // ---- UgBuilders.ugSolutionSteps ----------------------------------

  private val stepPs = UgBuilders.UgStepPatterns.map {
    case (p, g) => (Pattern.compile(p), g)
  }
  private val sentSplit = Pattern.compile("[.!?]+")

  def isMeaningfulStepEnhanced(s: String): Boolean = {
    val lo = sparkLower(s)
    (UgBuilders.UgEnhPhysTerms.exists(lo.contains) ||
      UgBuilders.UgEnhMathTerms.exists(lo.contains)) &&
      !UgBuilders.UgEnhAvoidTerms.exists(lo.contains)
  }

  def solutionSteps(c: String): Array[String] =
    solutionStepsFold(c, asciiLower(c))

  private[derive] def solutionStepsFold(c: String, fold: String): Array[String] = {
    val pattern = ArrayBuffer.empty[String]
    var pi = 0
    stepPs.foreach { case (p, g) =>
      if (anchored(fold, StepAnchors(pi))) {
        groupHits(p, c, g).foreach { m0 =>
          val s = spaceTrim(m0)
          if (nchars(s) > 20 && isMeaningfulStepEnhanced(s)) pattern += s
        }
      }
      pi += 1
    }
    val all =
      if (pattern.size < 2) {
        val sent = ArrayBuffer.empty[String]
        sentSplit.split(if (c == null) "" else c, -1).foreach { raw =>
          val s = spaceTrim(raw)
          if (nchars(s) > 25 && isMeaningfulStepEnhanced(s)) sent += s
        }
        pattern ++ sent
      } else pattern
    all.take(8).toArray
  }

  // ---- UgBuilders.ugProblemStatement -------------------------------

  private val stmtPs = UgBuilders.UgProblemStmtPatterns.map {
    case (p, g) => (Pattern.compile(p), g)
  }

  def problemStatement(c: String): String =
    problemStatementFold(c, asciiLower(c))

  private[derive] def problemStatementFold(c: String, fold: String): String = {
    var pi = 0
    stmtPs.foreach { case (p, g) =>
      if (anchored(fold, StmtAnchors(pi))) {
        val m = p.matcher(if (c == null) "" else c)
        val first = if (m.find()) { val x = m.group(g); if (x == null) "" else x }
          else ""
        val cand = spaceTrim(first)
        if (nchars(cand) > 30 && isMeaningfulSentence(cand)) return cand
      }
      pi += 1
    }
    "Problem statement not clearly identified."
  }

  // ---- UgBuilders.ugDifficulty -------------------------------------

  def difficulty(c: String): String = difficultyLo(sparkLower(c))

  private[derive] def difficultyLo(lo: String): String = {
    val adv = termCountStr(lo, UgBuilders.UgAdvanced)
    val inter = termCountStr(lo, UgBuilders.UgIntermediate)
    if (adv >= 2) "advanced"
    else if (inter >= 2 || adv >= 1) "intermediate"
    else "introductory"
  }

  // ---- Extract.topic / reasoningType / prerequisites / concepts ----

  def topic(c: String, subject: String): String =
    topicLo(sparkLower(c), subject)

  private[derive] def topicLo(lo: String, subject: String): String = {
    val scores = Extract.TopicKeywords.map { case (t, kws) =>
      t -> termCountStr(lo, kws)
    }
    val best = scores.map(_._2).max
    scores.find { case (_, s) => s == best && best > 0 } match {
      case Some((t, _)) => t
      case None =>
        if (subject != null && subject.nonEmpty) sparkLower(subject)
        else "general"
    }
  }

  def reasoningType(c: String): String = reasoningTypeLo(sparkLower(c))

  private[derive] def reasoningTypeLo(lo: String): String = {
    Extract.ReasoningTypeCues.find { case (_, cues) => cues.exists(lo.contains) }
      .map(_._1).getOrElse("reasoning_chain")
  }

  def prerequisites(c: String): Array[String] =
    prerequisitesLo(sparkLower(c))

  private[derive] def prerequisitesLo(lo: String): Array[String] = {
    Extract.PrereqIndicators.collect {
      case (name, inds) if inds.exists(lo.contains) => name
    }.toArray
  }

  private val conceptPs = Extract.ConceptPatterns.map(Pattern.compile)

  /** array_distinct keeps the FIRST occurrence — mirrored with an
    * insertion-ordered set.
    */
  def concepts(c: String): Array[String] = conceptsFold(c, asciiLower(c))

  private[derive] def conceptsFold(c: String, fold: String): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    var pi = 0
    conceptPs.foreach { p =>
      if (anchored(fold, ConceptAnchors(pi)))
        groupHits(p, c, 0).foreach(seen += _)
      pi += 1
    }
    seen.toArray
  }

  // ---- the per-block metadata struct -------------------------------

  val MetaType: StructType = StructType(Seq(
    StructField("problem_statement", StringType),
    StructField("steps", ArrayType(StringType)),
    StructField("step_count", IntegerType),
    StructField("difficulty", StringType),
    StructField("topic", StringType),
    StructField("reasoning_type", StringType),
    StructField("prerequisites", ArrayType(StringType)),
    StructField("concepts", ArrayType(StringType)),
    StructField("raw_text", StringType)))

  private def strArr(a: Array[String]): GenericArrayData =
    new GenericArrayData(a.map(s =>
      (if (s == null) null else UTF8String.fromString(s)): Any))

  def metaRow(cleaned: String, subject: String): InternalRow = {
    // one Spark-lower and one ASCII fold for the whole block — the
    // helpers otherwise re-scan the identical string 7 times
    val lo = sparkLower(cleaned)
    val fold = asciiLower(cleaned)
    val steps = solutionStepsFold(cleaned, fold)
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(problemStatementFold(cleaned, fold)),
      strArr(steps),
      steps.length,
      UTF8String.fromString(difficultyLo(lo)),
      UTF8String.fromString(topicLo(lo, subject)),
      UTF8String.fromString(reasoningTypeLo(lo)),
      strArr(prerequisitesLo(lo)),
      strArr(conceptsFold(cleaned, fold)),
      UTF8String.fromString(graft.extract.Clean.limitRawTextStr(cleaned))))
  }

  // ---- native entries: Catalyst values in and out, null-aware ------

  def derivationCleanUtf8(u: UTF8String): UTF8String =
    UTF8String.fromString(derivationClean(str(u)))

  def completeDerivationUtf8(u: UTF8String): UTF8String = {
    val out = completeDerivation(str(u))
    if (out == null) null else UTF8String.fromString(out)
  }

  /** Null cleaned block → null; a null subject reaches `topicLo`. */
  def metaRowUtf8(cleaned: UTF8String, subject: UTF8String): InternalRow =
    if (cleaned == null) null else metaRow(cleaned.toString, str(subject))

  def derivationCleanCol(c: Column): Column =
    graft.functions.Native.nullAware(this, "derivationCleanUtf8", StringType,
      nullable = false, c)

  def completeDerivationCol(m: Column): Column =
    graft.functions.Native.nullAware(this, "completeDerivationUtf8", StringType,
      nullable = true, m)

  def metaCol(cleaned: Column, subject: Column): Column =
    graft.functions.Native.nullAware(this, "metaRowUtf8", MetaType,
      nullable = true, cleaned, subject)
}
