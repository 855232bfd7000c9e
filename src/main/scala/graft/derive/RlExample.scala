package graft.derive

import DeriveHelpers._

import java.util.regex.Pattern

import graft.extract.Clean.sparkLower
import graft.rules.Heuristics.termCountStr
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-candidate RL example processing — the v2 builder's
  * validation/step-parsing/quality chains as ONE native call per
  * battery candidate instead of a ~1000-node interpreted Column tree.
  *
  * Why: the Column lambdas (explicit/derivation/calculation example
  * assembly) dominated both the per-candidate cost (interpreted HOF
  * evaluation of 27-contains clean chains, Let-bound regex batteries)
  * and the per-QUERY plan overhead (analysis/optimization of the huge
  * tree measured ~1.1 s regardless of data size — BENCH §0a round 3).
  *
  * Semantics are a STRICT mirror of the Column forms, which stay in
  * RlBuilder as `*Ref` for the equality test (RlExampleParitySpec:
  * byte-identical structs over the fixture corpus + adversarial and
  * random inputs). Spark-semantics notes mirrored deliberately:
  *   - `trim` strips ' ' only (space, not \t\n);
  *   - `length` counts code points (UTF8String.numChars);
  *   - `split(s, re)` keeps trailing empties (limit -1);
  *   - three-valued logic: a null `length(x) < n` comparison is FALSE
  *     inside CaseWhen, so `lt` is null-guarded;
  *   - `concat(lit, null)` propagates null;
  *   - regexp group lists substitute "" for a non-participating group.
  *
  * Reference trace: enhanced_training_builder.py:88-160 (example
  * processing), :161-193 (C9 clean+validate), :195-230 (E15 steps),
  * :232-265 (derivation-step parsing), :291-313 (E16 final answer),
  * :315-361 (E22 quality).
  */
object RlExample {

  val ExampleType: StructType = StructType(Seq(
    StructField("example_type", StringType),
    StructField("problem_statement", StringType),
    StructField("solution_steps", ArrayType(StringType)),
    StructField("final_answer", StringType),
    StructField("quality_score", DoubleType)))

  final case class Example(exampleType: String, problem: String,
                           steps: Array[String], answer: String,
                           quality: Double)

  // ---- Spark-semantics helpers -------------------------------------

  @inline private def trimOrNull(s: String): String =
    if (s == null) null else spaceTrim(s)

  @inline private def nchars(s: String): Int =
    s.codePointCount(0, s.length)

  /** `length(x) < n` under CaseWhen: null compares to false. */
  @inline private def lt(s: String, n: Int): Boolean =
    s != null && nchars(s) < n

  // ---- P8: meaningful-step predicate (Extract.isMeaningfulStep) ----

  private val wsSplit = Pattern.compile("(?U)\\s+")

  def isMeaningfulStep(step: String): Boolean = {
    // short-circuit order (round-6 non-ASCII profile): pure predicate,
    // identical truth value to evaluating all four terms — but a step
    // with no meaningful indicator AND no math char (the common case on
    // non-English sentences) skips the avoid-term scans and the regex
    // word split entirely
    val lo = sparkLower(step)
    if (!(Extract.MeaningfulIndicators.exists(lo.contains) ||
        Extract.MathChars.exists(step.contains))) return false
    if (Extract.AvoidTerms.exists(lo.contains)) return false
    var wc = 0
    wsSplit.split(spaceTrim(step), -1).foreach(w => if (w.nonEmpty) wc += 1)
    wc >= 4
  }

  // ---- C9: clean + validate (Gates.cleanAndValidate) ---------------

  private val c9Strip =
    Pattern.compile("[^\\w\\s\\.,;:()=+\\-*/\\[\\]{}\\\\α-ωΑ-Ω]")

  def c9CleanValidate(c: String): String = {
    if (c == null) return null
    val cleaned = spaceTrim(
      wsSplit.matcher(c9Strip.matcher(c).replaceAll("")).replaceAll(" "))
    if (nchars(cleaned) < 15) return null
    val lo = sparkLower(cleaned)
    if (!Gates.C9PhysicsTerms.exists(lo.contains) &&
      !Extract.MathChars.exists(cleaned.contains)) return null
    if (termCountStr(lo, Gates.C9English) < 2) return null
    cleaned
  }

  // ---- E15: reasoning steps (Extract.reasoningSteps, cap 6) --------

  private val stepPs = Extract.StepPatterns.map(Pattern.compile)
  private val eqStepP = Pattern.compile("([^.]*=\\s*[^.]*\\.)")
  private val sentSplit = Pattern.compile("[.!?]+")

  // necessary literals per Extract.StepPatterns prefix alternation —
  // AnchorGuard (ASCII fold, matching the patterns' bare `(?i)`)
  private[graft] val StepAnchors: Array[Array[Array[String]]] = Array(
    Array(Array("step", "first", "next", "then", "finally")),
    Array(Array("we have", "we get", "we find", "we obtain", "we use")),
    Array(Array("from", "using", "by", "since")),
    Array(Array("therefore", "thus", "hence")))

  def reasoningSteps(c: String): Array[String] =
    reasoningStepsFold(c, AnchorGuard.asciiLower(c))

  /** Fold-threaded variant (the UgExample.metaRow discipline): callers
    * that also fold `c` for other guards pass the one copy through.
    */
  private[derive] def reasoningStepsFold(c: String, fold: String): Array[String] = {
    val primary = ArrayBuffer.empty[String]
    var pi = 0
    stepPs.foreach { p =>
      if (AnchorGuard.anchored(fold, StepAnchors(pi))) {
        groupHits(p, c, 1).foreach { m0 =>
          val s = spaceTrim(m0)
          if (nchars(s) > 10 && isMeaningfulStep(s)) primary += s
        }
      }
      pi += 1
    }
    val chosen: ArrayBuffer[String] =
      if (primary.nonEmpty) primary
      else {
        // necessary-literal guard (round-6 non-ASCII profile): eqStepP
        // is ([^.]*=\s*[^.]*\.) — a match REQUIRES a literal '=' and a
        // '.', so on a doc without them (most non-English sentences)
        // the whole-text regex scan is provably fruitless and skipped;
        // output identical by construction
        val eq = ArrayBuffer.empty[String]
        if (c != null && c.indexOf('=') >= 0 && c.indexOf('.') >= 0)
          groupHits(eqStepP, c, 1).foreach { m0 =>
            val s = spaceTrim(m0)
            if (nchars(s) > 10 && s.contains("=")) eq += s
          }
        if (eq.nonEmpty) eq
        else {
          val sent = ArrayBuffer.empty[String]
          sentSplit.split(if (c == null) "" else c, -1).foreach { raw =>
            val s = spaceTrim(raw)
            if (nchars(s) > 15 && isMeaningfulStep(s)) sent += (s + ".")
          }
          sent
        }
      }
    chosen.take(6).toArray
  }

  // ---- E16: final answer (Extract.finalAnswer) ---------------------

  private val answerPs = Extract.AnswerPatterns.map(Pattern.compile)
  private val dotSplit = Pattern.compile("\\.")

  // necessary literals per Extract.AnswerPatterns (ASCII fold matches
  // the patterns' bare `(?i)`): pattern 0 needs one of the cue words,
  // pattern 1 needs `=\s*[0-9]` — both '=' and a digit
  private[graft] val AnswerAnchors: Array[Array[Array[String]]] = Array(
    Array(Array("answer", "result", "therefore", "thus", "hence", "finally")),
    Array(Array("="), Array("0", "1", "2", "3", "4", "5", "6", "7", "8", "9")))

  def finalAnswer(c: String): String =
    finalAnswerFold(c, AnchorGuard.asciiLower(c))

  private[derive] def finalAnswerFold(c: String, fold: String): String = {
    // anchor guards (round-6 non-ASCII profile): each pattern's regex
    // scan runs only when its necessary literals are present — output
    // identical by construction (a guarded-out pattern cannot match)
    var pi = 0
    answerPs.foreach { p =>
      if (AnchorGuard.anchored(fold, AnswerAnchors(pi))) {
        val ms = groupHits(p, c, 1).map(spaceTrim).filter(nchars(_) > 3)
        if (ms.nonEmpty) return ms.last
      }
      pi += 1
    }
    // the eq fallback keeps only sentences containing '=' — with no '='
    // in the doc the split+filter is provably empty, skip it
    if (c != null && c.indexOf('=') >= 0) {
      val eq = dotSplit.split(c, -1).map(spaceTrim)
        .filter(s => s.contains("=") && nchars(s) > 8)
      if (eq.nonEmpty) return eq.last
    }
    "Result derived as shown above"
  }

  // ---- E22: quality (Extract.assessQuality) ------------------------

  private val ProblemCue = Seq("find", "calculate", "derive", "show")
  private val FlowCue = Seq("therefore", "thus", "hence", "so")

  def isHighQualityStep(step: String): Boolean = {
    val lo = sparkLower(step)
    nchars(step) >= 15 &&
      (Extract.QualityStepIndicators.exists(lo.contains) ||
        Extract.MathChars.exists(step.contains))
  }

  def assessQuality(problem: String, steps: Array[String]): Double = {
    val n = steps.length
    if (n == 0) return 0.0
    val probOk = problem != null && nchars(problem) > 20 &&
      ProblemCue.exists(sparkLower(problem).contains)
    val problemScore = if (probOk) 0.3 else 0.1
    val stepQuality = steps.count(isHighQualityStep).toDouble / n.toDouble * 0.4
    val mathContent = steps.count(_.contains("=")).toDouble / n.toDouble * 0.2
    val flow =
      if (FlowCue.exists(sparkLower(steps.mkString(" ")).contains)) 0.1 else 0.05
    math.min(1.0, problemScore + stepQuality + mathContent + flow)
  }

  // ---- derivation-step parsing (RlBuilder.parseDerivationSteps) ----

  private val mathFragP = Pattern.compile("([^.]*(?:=|→|⇒)[^.]*)")

  def parseDerivationSteps(stepsText: String, result: String): Array[String] = {
    // necessary-literal guard: mathFragP requires one of '=' '→' '⇒' —
    // skip the whole-text scan when none is present (output identical)
    val mathRaw =
      if (stepsText != null && (stepsText.indexOf('=') >= 0 ||
        stepsText.indexOf('→') >= 0 || stepsText.indexOf('⇒') >= 0))
        groupHits(mathFragP, stepsText, 1)
      else Array.empty[String]
    if (mathRaw.nonEmpty) {
      val mathValid = ArrayBuffer.empty[String]
      mathRaw.foreach { m0 =>
        val s = spaceTrim(m0)
        if (nchars(s) > 10 && isMeaningfulStep(s))
          mathValid += (if (s.endsWith(".")) s else s + ".")
      }
      val out =
        if (result != null && nchars(result) > 0 &&
          !mathValid.exists(_.contains(result)))
          mathValid :+ ("Therefore: " + result)
        else mathValid
      out.toArray
    } else {
      val sent = ArrayBuffer.empty[String]
      sentSplit.split(if (stepsText == null) "" else stepsText, -1).foreach { raw =>
        val s = spaceTrim(raw)
        if (nchars(s) > 15 && isMeaningfulStep(s)) sent += (s + ".")
      }
      val out = if (result != null && nchars(result) > 0)
        sent :+ ("Therefore: " + result) else sent
      out.toArray
    }
  }

  // ---- the three per-candidate builders ----------------------------

  def explicitExample(rawProblem: String, rawSolution: String): Example = {
    val p = trimOrNull(rawProblem); val s = trimOrNull(rawSolution)
    if (lt(p, 25) || lt(s, 40)) return null
    val cp = c9CleanValidate(p); val cs = c9CleanValidate(s)
    if (cp == null || cs == null) return null
    val fold = AnchorGuard.asciiLower(cs) // one fold for both batteries
    val steps = reasoningStepsFold(cs, fold)
    if (steps.length < 2) return null
    Example("explicit_problem_solution", cp, steps, finalAnswerFold(cs, fold),
      assessQuality(cp, steps))
  }

  def derivationExample(rawGiven: String, rawSteps: String,
                        rawResult: String): Example = {
    val given = trimOrNull(rawGiven); val steps = trimOrNull(rawSteps)
    val result = trimOrNull(rawResult)
    if (lt(given, 15) || lt(steps, 30)) return null
    val parsed = parseDerivationSteps(steps, result)
    if (parsed.length < 2) return null
    val problem = if (given == null) null
      else "Given: " + given + "\nDerive the following result and show all steps."
    Example("mathematical_derivation", problem, parsed, result,
      assessQuality(problem, parsed))
  }

  def calculationExample(rawSetup: String, rawCalc: String,
                         rawResult: String): Example = {
    val setup = trimOrNull(rawSetup); val calc = trimOrNull(rawCalc)
    val result = trimOrNull(rawResult)
    if (lt(setup, 15) || lt(calc, 20)) return null
    val steps: Array[String] =
      if (result != null && nchars(result) > 0)
        Array(calc, "Therefore: " + result)
      else Array(calc)
    val answer =
      if (result != null && nchars(result) > 0) result else steps.last
    val problem = if (setup == null) null else "Calculate: " + setup
    Example("numerical_calculation", problem, steps, answer,
      assessQuality(problem, steps))
  }

  // ==================================================================
  // V3 mirrors (enhanced_analyzer_integration2.py:446-650) — same
  // strict-mirror rules; Column forms stay as v3ExtractedExamplesRef.
  // ==================================================================

  val V3ExampleType: StructType = StructType(Seq(
    StructField("example_type", StringType),
    StructField("problem", StringType),
    StructField("solution", StringType),
    StructField("quality", DoubleType)))

  final case class V3Example(exampleType: String, problem: String,
                             solution: String, quality: Double)

  private val v3Strip =
    Pattern.compile("[^\\w\\s\\.,;:()=+\\-*/\\[\\]{}\\\\]")

  /** _clean_text v3 — trim → ws collapse → charset strip (order differs
    * from C9, no Greek); null coalesces to "".
    */
  def v3CleanText(c: String): String =
    v3Strip.matcher(
      wsSplit.matcher(spaceTrim(if (c == null) "" else c)).replaceAll(" "))
      .replaceAll("")

  private def v3WordCount(c: String): Int = {
    var wc = 0
    wsSplit.split(spaceTrim(if (c == null) "" else c), -1)
      .foreach(w => if (w.nonEmpty) wc += 1)
    wc
  }

  private val V3MathChars = Seq("=", "+", "-", "*", "/")

  /** _assess_quality v3 — mean of length/physics/math scores; never
    * null (term counts and contains over a null column fold to 0/false
    * in the Column form's CaseWhens).
    */
  def v3Quality(problem: String, solution: String): Double = {
    def phys(s: String): Int =
      if (s == null) 0
      else termCountStr(sparkLower(s), RlBuilder.V3QualityPhysicsTerms)
    val hasMath = solution != null && V3MathChars.exists(solution.contains)
    val pw = v3WordCount(problem); val sw = v3WordCount(solution)
    val lengthScore =
      if (pw >= 10 && pw <= 100 && sw >= 20 && sw <= 200) 1.0 else 0.5
    val physicsScore = math.min(1.0, (phys(problem) + phys(solution)).toDouble / 4.0)
    val mathScore = if (hasMath) 1.0 else 0.5
    (lengthScore + physicsScore + mathScore) / 3.0
  }

  /** `length(trim(x)) > n` under CaseWhen: null compares to false. */
  @inline private def gtTrim(s: String, n: Int): Boolean =
    s != null && nchars(spaceTrim(s)) > n

  def v3ExplicitExample(rawP: String, rawS: String): V3Example = {
    val q = v3Quality(rawP, rawS)
    if (!(gtTrim(rawP, 20) && gtTrim(rawS, 30) && q > 0.4)) return null
    V3Example("explicit_problem", v3CleanText(rawP), v3CleanText(rawS), q)
  }

  def v3DerivationExample(given: String, process: String,
                          result: String): V3Example = {
    // quality over RAW given vs process+result concatenated (no space);
    // Column concat propagates null
    val q = v3Quality(given,
      if (process == null || result == null) null else process + result)
    if (!(gtTrim(given, 15) && gtTrim(process, 20) && q > 0.4)) return null
    val tg = trimOrNull(given); val tp = trimOrNull(process)
    val tr = trimOrNull(result)
    val problem = if (tg == null) null
      else "Given: " + tg + "\nDerive the result and show all steps."
    val solution = if (tg == null || tp == null || tr == null) null
      else "Starting with: " + tg + "\nProcess: " + tp + "\nResult: " + tr
    V3Example("derivation", problem, solution, q)
  }

  private def toV3Row(e: V3Example): InternalRow =
    if (e == null) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(e.exampleType),
      if (e.problem == null) null else UTF8String.fromString(e.problem),
      if (e.solution == null) null else UTF8String.fromString(e.solution),
      e.quality))

  // ---- InternalRow bridge ------------------------------------------

  private def toRow(e: Example): InternalRow =
    if (e == null) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(e.exampleType),
      if (e.problem == null) null else UTF8String.fromString(e.problem),
      new GenericArrayData(e.steps.map(s =>
        (if (s == null) null else UTF8String.fromString(s)): Any)),
      if (e.answer == null) null else UTF8String.fromString(e.answer),
      e.quality))

  // ---- native entries: one per battery kind, null groups passed
  // through to the three-valued gate logic (RlBuilder calls them as
  // `<kind>Row` / `v3<Kind>Row`) -------------------------------------

  def explicitRow(p: UTF8String, s: UTF8String): InternalRow =
    toRow(explicitExample(str(p), str(s)))

  def derivationRow(g: UTF8String, s: UTF8String, r: UTF8String): InternalRow =
    toRow(derivationExample(str(g), str(s), str(r)))

  def calculationRow(s: UTF8String, c: UTF8String, r: UTF8String): InternalRow =
    toRow(calculationExample(str(s), str(c), str(r)))

  def v3ExplicitRow(p: UTF8String, s: UTF8String): InternalRow =
    toV3Row(v3ExplicitExample(str(p), str(s)))

  def v3DerivationRow(g: UTF8String, p: UTF8String, r: UTF8String): InternalRow =
    toV3Row(v3DerivationExample(str(g), str(p), str(r)))
}
