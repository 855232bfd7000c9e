package graft.derive

import DeriveHelpers._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.rules.Heuristics.TermSample

/** The RL-training builder — the third training path of the reference
  * (analysis/enhanced_training_builder.py:23-140), distinct from the
  * analyser's TrainingDataBuilder (Derive.trainingExamples): it mines
  * ACTUAL problem→solution pairs out of the text with multi-capture-group
  * batteries and re-assembles them as DeepSeek-R1-style prompt/completion
  * examples.
  *
  * One Dataset plan: RL suitability gate → three two/three-group pattern
  * batteries (`regexp_extract_all` per group, zipped positionally) →
  * per-candidate validation/step-parsing inside `transform` lambdas →
  * cap → `explode` → RL formatting. Narrow per-row work, no shuffles;
  * the candidate array goes through a ComputeOnce barrier so the battery
  * runs once per row (the CollapseProject trap).
  *
  * The explicit patterns use lookaheads (`(?=...)`) — legal in Java regex
  * (Spark) but NOT in RE2, so the driver check is rows-only; parity is
  * golden-tested in RlBuilderSpec against hand-derived expectations from
  * the reference logic.
  */
object RlBuilder {

  /** Positional zip of the per-group match lists (same battery → same
    * lengths; try_element_at for ANSI safety). The b/c sides are
    * Let-bound OUTSIDE the transform — referenced inside the lambda they
    * would re-run their full regex scan once per element.
    */
  private def zip2(a: Column, b: Column): Column =
    graft.functions.Let(b) { bb =>
      transform(a, (x, i) => struct(x.as("g1"),
        try_element_at(bb, (i + 1).cast("int")).as("g2")))
    }

  private def zip3(a: Column, b: Column, c: Column): Column =
    graft.functions.Let(b) { bb =>
      graft.functions.Let(c) { cc =>
        transform(a, (x, i) => struct(x.as("g1"),
          try_element_at(bb, (i + 1).cast("int")).as("g2"),
          try_element_at(cc, (i + 1).cast("int")).as("g3")))
      }
    }

  // ------------------------------------------------------------------
  // RL suitability gate (enhanced_training_builder.py:469-494): len >=
  // 1000; over text[:2000] lowered — problem indicators >= 2 AND
  // reasoning indicators >= 3 AND physics terms >= 2.
  // ------------------------------------------------------------------
  val RlProblemIndicators: Seq[String] = Seq("problem", "solution", "find",
    "calculate", "derive", "show", "example", "exercise", "question", "answer")
  val RlReasoningIndicators: Seq[String] = Seq("step", "first", "next",
    "then", "therefore", "thus", "hence", "using", "from", "given",
    "we have", "we get")
  val RlPhysicsTerms: Seq[String] = Seq("energy", "force", "field", "mass",
    "equation")

  private[graft] val RlSample =
    new TermSample(2000, RlProblemIndicators, RlReasoningIndicators, RlPhysicsTerms)

  def suitableForRlTraining(text: Column): Column = rlGate(text, RlSample.mask(text))

  /** `suitableForRlTraining` over `RlSample`'s mask. */
  private def rlGate(text: Column, mask: Column): Column =
    (length(trim(coalesce(text, lit("")))) >= 1000) &&
      (RlSample.count(mask, RlProblemIndicators) >= 2) &&
      (RlSample.count(mask, RlReasoningIndicators) >= 3) &&
      (RlSample.count(mask, RlPhysicsTerms) >= 2)

  // ------------------------------------------------------------------
  // Battery patterns (:47-51, :61-64, :75-78). Python re.DOTALL +
  // re.IGNORECASE → (?si); \Z → \z.
  // ------------------------------------------------------------------
  val ExplicitPatterns: Seq[String] = Seq(
    "(?si)(?:Problem|Question|Example)\\s*:?\\s*(.*?)(?:Solution|Answer|Result)\\s*:?\\s*(.*?)(?=(?:Problem|Question|Example|\n\n|\\z))",
    "(?si)(?:Find|Calculate|Determine|Show|Prove)\\s+(.*?)(?:\\.|\n)\\s*(?:Solution|We have|We start|We get)\\s*:?\\s*(.*?)(?=(?:Find|Calculate|\n\n|\\z))")

  val DerivationSeqPatterns: Seq[String] = Seq(
    "(?si)(?:Given|Starting with|Consider)\\s+(.*?)(?:\\.|\n)\\s*(?:We derive|We show|We find)\\s+(.*?)(?:Therefore|Thus|Hence)\\s+(.*?)(?=\n\n|\\z)",
    "(?si)(?:From|Using)\\s+([^.]*equation[^.]*)\\s*(?:\\.|\n)\\s*(.*?)(?:we get|we obtain|this gives)\\s+(.*?)(?=\n\n|\\z)")

  /** REFERENCE BUG reproduced (enhanced_training_builder.py:75-81): the
    * first calculation pattern captures TWO groups but the loop unpacks
    * THREE — any text it matches raises ValueError, and the per-paper
    * `except Exception` at enhanced_analyzer_integration.py:211 then
    * discards the ENTIRE document's RL examples. Faithful semantics:
    * pattern 1 never yields examples, and a document matching it yields
    * nothing at all (the crash gate below); only pattern 2 extracts.
    */
  val CalculationCrashPattern: String =
    "(?si)(?:Calculate|Computing|To find)\\s+(.*?)(?:\\.|\n)\\s*(.*?)(?:=\\s*[0-9][^.\n]*)"

  /** Existence-equivalent, backtracking-safe form of the crash pattern.
    * The original's two nested DOTALL `(.*?)` make a FAILED search
    * O(anchors × dots × n) per doc (measured: ~120 ms/doc, 49 s for the
    * 400-doc fixture). For the gate only EXISTENCE matters, and
    * "word, ≥1 ws, anything, dot/nl, anything, = digit" holds iff it
    * holds with the FIRST dot/nl after the word (d_first ≤ d ⇒ any
    * later "= digit" still follows d_first), so the run up to the dot
    * can be written dot-free (`[^.\n]*`) and the tail as one greedy
    * scan — linear per anchor. RlBuilderSpec's crash-gate test and the
    * bench both cover this form.
    */
  val CrashExistencePattern: String =
    "(?si)(?:Calculate|Computing|To find)\\s[^.\n]*(?:\\.|\n).*=\\s*[0-9]"

  val CalculationPatterns: Seq[String] = Seq(
    "(?si)(?:The value of|We have)\\s+([^=]*=\\s*[^.\\n]*)\\s*(.*?)(?:Therefore|Thus)\\s*(.*?)(?=\n\n|\\z)")

  // ------------------------------------------------------------------
  // RE2-safe EXISTENCE equivalents of the battery patterns, for the
  // DuckDB oracle layer (the originals' lookaheads are outside RE2).
  // Reasoning, per pattern: the trailing `(?=...|\z)` lookahead is always
  // satisfiable (the preceding lazy `(.*?)` can extend to end-of-text
  // where \z holds), and every interior `\s*:?\s*` / `(.*?)` matches the
  // empty string, so a match EXISTS iff the mandatory literal/class runs
  // appear in order with their required adjacencies (`\s+X` → `\sX`,
  // `(?:\.|\n)\s*Y` kept verbatim). Lazy-vs-greedy cannot change
  // existence. Equivalence is machine-checked over the fixture +
  // degenerate corpus by ExistenceParitySpec.
  // ------------------------------------------------------------------
  /** The crash gate as used by rlTrainingExamples: a doc matching the
    * reference's buggy calculation pattern contributes NOTHING (its
    * ValueError discards the whole document's RL examples). Anchor
    * contains-checks first, then the backtracking-safe existence form.
    */
  def crashGate(text: Column): Column =
    containsAny(lower(text), Seq("calculate", "computing", "to find")) &&
      text.contains("=") && text.rlike(CrashExistencePattern)

  val ExplicitExistence: Seq[String] = Seq(
    "(?si)(?:Problem|Question|Example).*(?:Solution|Answer|Result)",
    "(?si)(?:Find|Calculate|Determine|Show|Prove)\\s.*(?:\\.|\n)\\s*(?:Solution|We have|We start|We get)")
  val DerivationSeqExistence: Seq[String] = Seq(
    "(?si)(?:Given|Starting with|Consider)\\s.*(?:\\.|\n)\\s*(?:We derive|We show|We find)\\s.*(?:Therefore|Thus|Hence)\\s",
    "(?si)(?:From|Using)\\s[^.]*equation[^.]*(?:\\.|\n).*(?:we get|we obtain|this gives)\\s")
  val CalculationExistence: Seq[String] = Seq(
    "(?si)(?:The value of|We have)\\s[^=]*=.*(?:Therefore|Thus)")
  val V3ExplicitExistence: Seq[String] = Seq(
    "(?si)(?:Problem|Example|Exercise).*(?:Solution|Answer)",
    "(?si)(?:Find|Calculate|Determine)\\s.*(?:\\.|\n)\\s*(?:We have|We get|We find)")
  val V3DerivationExistence: Seq[String] = Seq(
    "(?si)(?:Starting with|From|Given)\\s.*(?:we get|we obtain|this gives)\\s.*(?:Therefore|Thus)\\s")

  // ------------------------------------------------------------------
  // _parse_derivation_steps (:232-265): '='/arrow fragments filtered by
  // length>10 + meaningful (P8), '.'-suffixed; result appended as a
  // "Therefore:" step unless already contained in a step. Fallback:
  // meaningful sentences (>15) + unconditional "Therefore:" append.
  // The branch picks on RAW math-fragment matches (pre-filter) — a
  // reference quirk reproduced exactly.
  // ------------------------------------------------------------------
  def parseDerivationSteps(stepsText: Column, result: Column): Column =
    graft.functions.Let(hits(stepsText, "([^.]*(?:=|→|⇒)[^.]*)", 1)) { mathRaw =>
      graft.functions.Let(transform(
        filter(transform(mathRaw, m => trim(m)),
          c => length(c) > 10 && Extract.isMeaningfulStep(c)),
        c => when(c.endsWith("."), c).otherwise(concat(c, lit("."))))) { mathValid =>
        val mathWithResult = when(
          length(result) > 0 && !exists(mathValid, s => s.contains(result)),
          concat(mathValid, array(concat(lit("Therefore: "), result))))
          .otherwise(mathValid)
        graft.functions.Let(transform(
          filter(transform(split(coalesce(stepsText, lit("")), "[.!?]+"), s => trim(s)),
            s => length(s) > 15 && Extract.isMeaningfulStep(s)),
          s => concat(s, lit(".")))) { sentences =>
          val sentWithResult = when(length(result) > 0,
            concat(sentences, array(concat(lit("Therefore: "), result))))
            .otherwise(sentences)
          when(size(mathRaw) > 0, mathWithResult).otherwise(sentWithResult)
        }
      }
    }

  // ------------------------------------------------------------------
  // _assess_difficulty (:421-447) — the RL variant over
  // problem + " " + joined steps: advanced >= 2 → advanced;
  // intermediate >= 2 OR advanced >= 1 → intermediate; else introductory.
  // ------------------------------------------------------------------
  val RlAdvancedTerms: Seq[String] = Seq("differential", "integral",
    "eigenvalue", "tensor", "lagrangian", "quantum field", "relativistic",
    "perturbation")
  val RlIntermediateTerms: Seq[String] = Seq("derivative", "vector",
    "matrix", "conservation", "momentum", "electromagnetic",
    "thermodynamic", "wave equation")

  private[graft] val RlDifficultySample =
    new TermSample(Int.MaxValue, RlAdvancedTerms, RlIntermediateTerms)

  def rlDifficulty(problem: Column, steps: Column): Column = {
    val m = RlDifficultySample.mask(concat(problem, lit(" "), array_join(steps, " ")))
    val adv = RlDifficultySample.count(m, RlAdvancedTerms)
    val inter = RlDifficultySample.count(m, RlIntermediateTerms)
    // both counts in the outer condition, which always runs: subexpression
    // elimination then computes the mask once per row
    when(inter >= 2 || adv >= 1, when(adv >= 2, "advanced").otherwise("intermediate"))
      .otherwise("introductory")
  }

  // ------------------------------------------------------------------
  // Per-candidate processing (:88-160) as struct-or-null expressions.
  // ------------------------------------------------------------------

  private val ExampleStruct = "struct<example_type:string,problem_statement:string,solution_steps:array<string>,final_answer:string,quality_score:double>"

  private def nullExample: Column = lit(null).cast(ExampleStruct)

  private def mkExample(typ: String, problem: Column, steps: Column,
                        answer: Column): Column =
    struct(lit(typ).as("example_type"), problem.as("problem_statement"),
      steps.as("solution_steps"), answer.as("final_answer"),
      Extract.assessQuality(problem, steps).as("quality_score"))

  /** _process_explicit_example (:88-113): len gates 25/40 on the stripped
    * raw texts, C9 clean+validate both sides, E15 steps >= 2.
    */
  private def explicitExample(rawProblem: Column, rawSolution: Column): Column = {
    val p = trim(rawProblem); val s = trim(rawSolution)
    // clean/steps chains are heavy and multiply-referenced → Let-bound
    // (one evaluation per candidate; see graft.functions.Let)
    graft.functions.Let(Gates.cleanAndValidate(p)) { cp =>
      graft.functions.Let(Gates.cleanAndValidate(s)) { cs =>
        graft.functions.Let(Extract.reasoningSteps(cs)) { steps =>
          when(length(p) < 25 || length(s) < 40, nullExample)
            .when(cp.isNull || cs.isNull, nullExample)
            .when(size(steps) < 2, nullExample)
            .otherwise(mkExample("explicit_problem_solution", cp, steps,
              Extract.finalAnswer(cs)))
        }
      }
    }
  }

  /** _process_derivation_example (:115-137): len gates 15/30; structured
    * problem statement; parsed steps >= 2.
    */
  private def derivationExample(rawGiven: Column, rawSteps: Column,
                                rawResult: Column): Column = {
    val given = trim(rawGiven); val steps = trim(rawSteps)
    val result = trim(rawResult)
    val problem = concat(lit("Given: "), given,
      lit("\nDerive the following result and show all steps."))
    graft.functions.Let(parseDerivationSteps(steps, result)) { parsed =>
      when(length(given) < 15 || length(steps) < 30, nullExample)
        .when(size(parsed) < 2, nullExample)
        .otherwise(mkExample("mathematical_derivation", problem, parsed, result))
    }
  }

  /** _process_calculation_example (:138-160): len gates 15/20; steps are
    * [calculation] (+ "Therefore: result" when result nonempty); answer
    * falls back to the last step.
    */
  private def calculationExample(rawSetup: Column, rawCalc: Column,
                                 rawResult: Column): Column = {
    val setup = trim(rawSetup); val calc = trim(rawCalc)
    val result = trim(rawResult)
    val problem = concat(lit("Calculate: "), setup)
    graft.functions.Let(when(length(result) > 0,
      array(calc, concat(lit("Therefore: "), result))).otherwise(array(calc))) { steps =>
      val answer = when(length(result) > 0, result)
        .otherwise(try_element_at(steps, lit(-1)))
      when(length(setup) < 15 || length(calc) < 20, nullExample)
        .otherwise(mkExample("numerical_calculation", problem, steps, answer))
    }
  }

  /** Conservative NECESSARY literal anchors per battery pattern (every
    * alternation branch implies all listed groups): a doc missing any
    * group cannot match, so the expensive nested-lazy DOTALL regex is
    * skipped — exactness-preserving (BuilderRobustnessSpec necessity
    * test) and the at-scale fast path on anchor-free web text.
    */
  private[graft] val ExplicitAnchors: Seq[Seq[Seq[String]]] = Seq(
    Seq(Seq("problem", "question", "example"), Seq("solution", "answer", "result")),
    Seq(Seq("find", "calculate", "determine", "show", "prove"),
      Seq("solution", "we have", "we start", "we get")))
  private[graft] val DerivationSeqAnchors: Seq[Seq[Seq[String]]] = Seq(
    Seq(Seq("given", "starting with", "consider"),
      Seq("we derive", "we show", "we find"),
      Seq("therefore", "thus", "hence")),
    Seq(Seq("from", "using"), Seq("equation"),
      Seq("we get", "we obtain", "this gives")))
  private[graft] val CalculationAnchors: Seq[Seq[Seq[String]]] = Seq(
    Seq(Seq("the value of", "we have"), Seq("="), Seq("therefore", "thus")))

  /** Anchor guard hoisted OUTSIDE the whole zip. Wrapping only the
    * group-1 scan is not enough: `Let`'s binding (`transform(array(v),
    * body)`) evaluates `v` unconditionally, so zip2/zip3's group-2/3
    * scans would still run on every anchor-free row. CaseWhen branch
    * values are evaluated lazily per row (interpreted and codegen), so
    * placing the `when` around the complete zip skips ALL group scans
    * when any necessary anchor is absent — the at-scale fast path on
    * anchor-free web text. Structure asserted by AnchorGuardSpec.
    *
    * The guard itself is a bit test (`count(mask, group) > 0` per group)
    * against a Let-bound whole-text `TermSample` mask — ONE pass over the
    * document finds every anchor term, replacing the 30+ per-term
    * contains scans that dominated anchor-free rows once the batteries
    * were skipped.
    */
  private def guardedZip2(guard: Column, text: Column, p: String): Column =
    when(guard, zip2(hits(text, p, 1), hits(text, p, 2)))
      .otherwise(array().cast("array<struct<g1:string,g2:string>>"))

  private def guardedZip3(guard: Column, text: Column, p: String): Column =
    when(guard,
      zip3(hits(text, p, 1), hits(text, p, 2), hits(text, p, 3)))
      .otherwise(array().cast("array<struct<g1:string,g2:string,g3:string>>"))

  private[graft] val V2AnchorTerms: Seq[String] =
    (ExplicitAnchors ++ DerivationSeqAnchors ++ CalculationAnchors)
      .flatten.flatten.distinct

  private[graft] val V2AnchorSample = new TermSample(Int.MaxValue, V2AnchorTerms)

  /** _extract_actual_problem_solutions (:42-86) + the caller's caps
    * (:31-37): battery order explicit → derivation → calculation, kept
    * candidates capped at 5 then 3.
    *
    * Battery scans stay declarative Catalyst (guarded, oracle-visible);
    * per-candidate processing runs as the fused `RlExample.<kind>Row`
    * kernel — the Column chains it replaces are kept below as
    * `extractedExamplesRef` and proven byte-identical by
    * RlExampleParitySpec.
    */
  def extractedExamples(text: Column): Column =
    examplesPlan(text, (kind, groups) =>
      graft.functions.Native.nullAware(RlExample, s"${kind}Row",
        RlExample.ExampleType, nullable = true, groups: _*))

  /** The pure-Column reference form (parity test only). */
  private[graft] def extractedExamplesRef(text: Column): Column =
    examplesPlan(text, {
      case ("explicit", Seq(g1, g2)) => explicitExample(g1, g2)
      case ("derivation", Seq(g1, g2, g3)) => derivationExample(g1, g2, g3)
      case ("calculation", Seq(g1, g2, g3)) => calculationExample(g1, g2, g3)
      case other => throw new MatchError(other)
    })

  private def examplesPlan(text: Column,
                           mk: (String, Seq[Column]) => Column): Column =
    graft.functions.Let(V2AnchorSample.mask(text)) { m =>
      def guard(a: Seq[Seq[String]]) = a.map(g => V2AnchorSample.count(m, g) > 0).reduce(_ && _)
      val explicit = ExplicitPatterns.zip(ExplicitAnchors).map { case (p, a) =>
        transform(guardedZip2(guard(a), text, p),
          z => mk("explicit", Seq(z.getField("g1"), z.getField("g2"))))
      }
      val deriv = DerivationSeqPatterns.zip(DerivationSeqAnchors).map { case (p, a) =>
        transform(guardedZip3(guard(a), text, p),
          z => mk("derivation",
            Seq(z.getField("g1"), z.getField("g2"), z.getField("g3"))))
      }
      val calc = CalculationPatterns.zip(CalculationAnchors).map { case (p, a) =>
        transform(guardedZip3(guard(a), text, p),
          z => mk("calculation",
            Seq(z.getField("g1"), z.getField("g2"), z.getField("g3"))))
      }
      slice(filter(concat(explicit ++ deriv ++ calc: _*), e => e.isNotNull), 1, 3)
    }

  // ====================================================================
  // V3 RL builder — the "FIXED" pipeline's variant
  // (enhanced_analyzer_integration2.py:446-650): simpler batteries with
  // inline quality gating, sentence-built thinking, its own quality /
  // difficulty / standards formulas, cap 2.
  // ====================================================================

  val V3ExplicitPatterns: Seq[String] = Seq(
    "(?si)(?:Problem|Example|Exercise)\\s*:?\\s*(.*?)(?:Solution|Answer)\\s*:?\\s*(.*?)(?=(?:Problem|Example|\n\n|\\z))",
    "(?si)(?:Find|Calculate|Determine)\\s+(.*?)(?:\\.|\n)\\s*(?:We have|We get|We find)\\s*(.*?)(?=(?:Find|Calculate|\n\n|\\z))")

  val V3DerivationPattern: String =
    "(?si)(?:Starting with|From|Given)\\s+(.*?)(?:we get|we obtain|this gives)\\s+(.*?)(?:Therefore|Thus)\\s+(.*?)(?=\n\n|\\z)"

  /** _clean_text (:578-582): strip → \s+ collapse → charset strip (note
    * the ORDER differs from C9, and no Greek in the whitelist).
    */
  def v3CleanText(c: Column): Column =
    regexp_replace(regexp_replace(trim(coalesce(c, lit(""))), "(?U)\\s+", " "),
      "[^\\w\\s\\.,;:()=+\\-*/\\[\\]{}\\\\]", "")

  private[graft] val V3QualityPhysicsTerms = Seq("energy", "force", "field", "mass",
    "velocity", "equation")

  private[graft] val V3QualitySample = new TermSample(Int.MaxValue, V3QualityPhysicsTerms)

  private def wordCount(c: Column): Column =
    size(filter(split(trim(coalesce(c, lit(""))), "(?U)\\s+"), w => length(w) > 0))

  /** _assess_quality v3 (:584-603): mean of a 2-level length score, a
    * physics-term score (capped joint count / 4), and a math-char score
    * over the SOLUTION side only.
    */
  def v3AssessQuality(problem: Column, solution: Column): Column = {
    val pPhys = V3QualitySample.count(V3QualitySample.mask(problem), V3QualityPhysicsTerms)
    val sPhys = V3QualitySample.count(V3QualitySample.mask(solution), V3QualityPhysicsTerms)
    val hasMath = containsAny(solution, Seq("=", "+", "-", "*", "/"))
    val pw = wordCount(problem); val sw = wordCount(solution)
    val lengthScore = when(pw.between(10, 100) && sw.between(20, 200), 1.0)
      .otherwise(0.5)
    val physicsScore = least(lit(1.0), (pPhys + sPhys).cast("double") / 4.0)
    val mathScore = when(hasMath, 1.0).otherwise(0.5)
    (lengthScore + physicsScore + mathScore) / 3.0
  }

  private[graft] val V3AdvancedTerms = Seq("differential", "integral", "quantum", "relativistic")
  private[graft] val V3IntermediateTerms =
    Seq("derivative", "vector", "conservation", "electromagnetic")
  private[graft] val V3DifficultySample =
    new TermSample(Int.MaxValue, V3AdvancedTerms, V3IntermediateTerms)

  /** _assess_difficulty v3 (:605-624): >=1 advanced → advanced;
    * >=1 intermediate → intermediate.
    */
  def v3Difficulty(problem: Column, solution: Column): Column = {
    val m = V3DifficultySample.mask(concat(problem, lit(" "), solution))
    when(V3DifficultySample.count(m, V3AdvancedTerms) >= 1, "advanced")
      .when(V3DifficultySample.count(m, V3IntermediateTerms) >= 1, "intermediate")
      .otherwise("introductory")
  }

  /** _create_thinking_section v3 (:535-557): first 4 ". "-split solution
    * parts longer than 10 chars, "First,"/"Next," prefixes, '.' suffix,
    * blank line after each, fixed closing line.
    */
  def v3ThinkingSection(solution: Column): Column = {
    val parts = slice(split(coalesce(solution, lit("")), "\\. "), 1, 4)
    val kept = filter(transform(parts, p => trim(p)), p => length(p) > 10)
    val body = array_join(
      transform(kept, (p, i) =>
        concat(when(i === 0, lit("First, ")).otherwise(lit("Next, ")),
          p, lit(".\n"))),
      "\n")
    concat(lit("Let me work through this physics problem step by step.\n\n"),
      when(length(body) > 0, concat(body, lit("\n"))).otherwise(lit("")),
      lit("This gives us the solution following standard physics principles."))
  }

  /** _extract_final_answer v3 (:558-576): LAST match of the two answer
    * patterns as "Therefore: m"; else the last '='/result-ish sentence
    * (NO prefix); else the default line.
    */
  def v3FinalAnswer(solution: Column): Column = {
    val perPattern = Seq(
      "(?i)(?:Therefore|Thus|Hence|Result|Answer)\\s*:?\\s*([^.]+)",
      "(?i)([^.]*=\\s*[0-9][^.]*)").map { p =>
      val ms = hits(solution, p, 1)
      when(size(ms) > 0,
        concat(lit("Therefore: "), trim(try_element_at(ms, lit(-1)))))
        .otherwise(lit(null).cast("string"))
    }
    val sentences = transform(split(coalesce(solution, lit("")), "\\."), s => trim(s))
    val eligible = filter(reverse(sentences), s =>
      length(s) > 10 && (s.contains("=") ||
        containsAny(lower(s), Seq("result", "answer", "solution"))))
    val lastSentence = when(size(eligible) > 0, try_element_at(eligible, lit(1)))
      .otherwise(lit(null).cast("string"))
    coalesce(perPattern.head, perPattern(1), lastSentence,
      lit("The solution follows from the steps shown above."))
  }

  private val V3ExampleStruct =
    "struct<example_type:string,problem:string,solution:string,quality:double>"

  /** _extract_training_examples (:463-506): explicit pairs (len gates
    * 20/30 on the stripped raw, cleaned fields, quality > 0.4 inline) +
    * the single three-group derivation pattern (gates 15/20, assembled
    * solution, quality over raw given/process+result).
    */
  private[graft] val V3ExplicitAnchors: Seq[Seq[Seq[String]]] = Seq(
    Seq(Seq("problem", "example", "exercise"), Seq("solution", "answer")),
    Seq(Seq("find", "calculate", "determine"),
      Seq("we have", "we get", "we find")))
  private[graft] val V3DerivationAnchors: Seq[Seq[String]] = Seq(
    Seq("starting with", "from", "given"),
    Seq("we get", "we obtain", "this gives"), Seq("therefore", "thus"))

  private[graft] val V3AnchorTerms: Seq[String] =
    (V3ExplicitAnchors.flatten ++ V3DerivationAnchors).flatten.distinct

  private[graft] val V3AnchorSample = new TermSample(Int.MaxValue, V3AnchorTerms)

  /** Per-candidate processing fused into the `RlExample.v3<Kind>Row`
    * kernels; the Column form stays as v3ExtractedExamplesRef for
    * RlExampleParitySpec.
    */
  def v3ExtractedExamples(text: Column): Column =
    v3ExamplesPlan(text, (kind, groups) =>
      graft.functions.Native.nullAware(RlExample, s"v3${kind.capitalize}Row",
        RlExample.V3ExampleType, nullable = true, groups: _*))

  private[graft] def v3ExtractedExamplesRef(text: Column): Column = {
    val nullEx = lit(null).cast(V3ExampleStruct)
    v3ExamplesPlan(text, {
      case ("explicit", Seq(rawP, rawS)) =>
        graft.functions.Let(v3AssessQuality(rawP, rawS)) { q =>
          when(length(trim(rawP)) > 20 && length(trim(rawS)) > 30 && q > 0.4,
            struct(lit("explicit_problem").as("example_type"),
              v3CleanText(rawP).as("problem"), v3CleanText(rawS).as("solution"),
              q.as("quality")))
            .otherwise(nullEx)
        }
      case ("derivation", Seq(given, process, result)) =>
        // quality over RAW given vs process+result concatenated (no space)
        graft.functions.Let(v3AssessQuality(given, concat(process, result))) { q =>
          when(length(trim(given)) > 15 && length(trim(process)) > 20 && q > 0.4,
            struct(lit("derivation").as("example_type"),
              concat(lit("Given: "), trim(given),
                lit("\nDerive the result and show all steps.")).as("problem"),
              concat(lit("Starting with: "), trim(given), lit("\nProcess: "),
                trim(process), lit("\nResult: "), trim(result)).as("solution"),
              q.as("quality")))
            .otherwise(nullEx)
        }
      case other => throw new MatchError(other)
    })
  }

  private def v3ExamplesPlan(text: Column,
                             mk: (String, Seq[Column]) => Column): Column =
    graft.functions.Let(V3AnchorSample.mask(text)) { m =>
      def guard(a: Seq[Seq[String]]) = a.map(g => V3AnchorSample.count(m, g) > 0).reduce(_ && _)
      val explicit = V3ExplicitPatterns.zip(V3ExplicitAnchors).map { case (p, a) =>
        transform(guardedZip2(guard(a), text, p),
          z => mk("explicit", Seq(z.getField("g1"), z.getField("g2"))))
      }
      val deriv =
        transform(guardedZip3(guard(V3DerivationAnchors), text, V3DerivationPattern),
          z => mk("derivation",
            Seq(z.getField("g1"), z.getField("g2"), z.getField("g3"))))
      slice(filter(concat(explicit :+ deriv: _*), e => e.isNotNull), 1, 2)
    }

  /** RL suitability gate v3 (:632-643): len >= 800; >= 3 of 6 indicators
    * over text[:1500].
    */
  val V3GateIndicators: Seq[String] = Seq("problem", "solution", "example",
    "calculate", "find", "derive")

  private[graft] val V3GateSample = new TermSample(1500, V3GateIndicators)

  def suitableForRlTrainingV3(text: Column): Column = {
    (length(trim(coalesce(text, lit("")))) >= 800) &&
      (V3GateSample.count(V3GateSample.mask(text), V3GateIndicators) >= 3)
  }

  /** V3 assembly (:446-461, :508-533): cap 2, rl_v3.0 format, standards =
    * quality > 0.4 AND prompt > 25 AND completion > 80 (no step gate).
    */
  def rlTrainingExamplesV3(df: DataFrame, urlCol: String, textCol: String,
                           subjectCol: String, titleCol: String): DataFrame = {
    val text = col(textCol)
    val withExamples = graft.functions.ComputeOnce(
      df.filter(suitableForRlTrainingV3(text)), "__ex", v3ExtractedExamples(text))
      .filter(size(col("__ex")) > 0)
      .select(col(urlCol).as("url"), col(subjectCol).as("subject"),
        col(titleCol).as("title"), explode(col("__ex")).as("e"))

    val problem = col("e.problem"); val solution = col("e.solution")
    val completion = concat(lit("<think>\n"), v3ThinkingSection(solution),
      lit("\n</think>\n\n"), v3FinalAnswer(solution))
    withExamples
      .withColumn("prompt", problem)
      .withColumn("completion", completion)
      .withColumn("reasoning_quality", round(col("e.quality"), 6))
      .withColumn("difficulty", v3Difficulty(problem, solution))
      .withColumn("example_type", col("e.example_type"))
      .withColumn("id", concat(lit("rl_train_"), col("url"), lit("_"),
        pmod(xxhash64(problem, solution), lit(100000L))))
      .filter(col("e.quality") > 0.4 && length(col("prompt")) > 25 &&
        length(col("completion")) > 80)
      .select("id", "url", "example_type", "prompt", "completion",
        "reasoning_quality", "difficulty")
  }

  /** create_rl_training_examples (:23-40) + _create_rl_training_format
    * (:363-392): one row per RL example passing the P11 quality standards.
    *
    * Output: id, url, example_type, prompt, completion, reasoning_quality,
    * step_count, difficulty, source_context. E23 id divergence: Python's
    * salted hash(str(example)) % 100000 → xxhash64 of the example's
    * stable fields (SURVEY §7.4).
    */
  def rlTrainingExamples(df: DataFrame, urlCol: String, textCol: String,
                         subjectCol: String, titleCol: String): DataFrame = {
    val text = col(textCol)
    // crash gate — see CalculationCrashPattern: a doc matching the buggy
    // pattern contributes NOTHING in the reference (ValueError → except).
    // Anchor-guarded: both substrings are necessary for a match.
    val withExamples = graft.functions.ComputeOnce(
      RlSample.filter(df, text)(m => rlGate(text, m) && !crashGate(text)), "__ex",
      extractedExamples(text))
      .filter(size(col("__ex")) > 0)
      .select(col(urlCol).as("url"), col(subjectCol).as("subject"),
        col(titleCol).as("title"), explode(col("__ex")).as("e"))

    val quality = col("e.quality_score")
    val steps = col("e.solution_steps")
    val problem = col("e.problem_statement")
    val completion = Extract.rlCompletion(steps, quality, col("e.final_answer"))
    val sourceContext =
      when(col("e.example_type") === "explicit_problem_solution",
        concat(lit("From "), col("subject"), lit(" paper: "),
          substring(col("title"), 1, 60), lit("...")))
        .when(col("e.example_type") === "mathematical_derivation",
          concat(lit("From "), col("subject"), lit(" derivation")))
        .otherwise(concat(lit("From "), col("subject"), lit(" numerical analysis")))

    withExamples
      .withColumn("prompt", problem)
      .withColumn("completion", completion)
      .withColumn("reasoning_quality", round(quality, 6))
      .withColumn("step_count", size(steps))
      .withColumn("difficulty", RlBuilder.rlDifficulty(problem, steps))
      .withColumn("example_type", col("e.example_type"))
      .withColumn("source_context", sourceContext)
      .withColumn("id", concat(lit("rl_physics_"), col("url"), lit("_"),
        pmod(xxhash64(problem, col("completion")), lit(100000L))))
      .filter(Derive.meetsQualityStandards(quality, col("step_count"),
        col("prompt"), col("completion")))
      .select("id", "url", "example_type", "prompt", "completion",
        "reasoning_quality", "step_count", "difficulty", "source_context")
  }
}
