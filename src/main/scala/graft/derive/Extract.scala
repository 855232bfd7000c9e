package graft.derive

import DeriveHelpers._

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.rules.Heuristics.TermSample

import graft.functions.Let

/** Extraction batteries for the derived datasets (SURVEY.md §2.4 E10–E25).
  *
  * Every battery is pure Catalyst: `regexp_extract_all` with literal
  * patterns (compiled once per task), higher-order `filter`/`transform`/
  * `slice`, `when`-chains. Python `re.DOTALL` → `(?s)`, `re.IGNORECASE` →
  * `(?i)`, `\Z` → `\z` (Python \Z is absolute end = Java \z).
  */
object Extract {

  // ------------------------------------------------------------------
  // E10 — equation extraction (enhanced_paper_analyser.py:205-225):
  // 5 LaTeX patterns (DOTALL) + numbered-equation indicator, cap 10,
  // join "\n".
  // ------------------------------------------------------------------
  val LatexPatterns: Seq[String] = Seq(
    "(?s)\\$\\$.*?\\$\\$",
    "(?s)\\$.*?\\$",
    "(?s)\\\\begin\\{equation\\}.*?\\\\end\\{equation\\}",
    "(?s)\\\\begin\\{align\\}.*?\\\\end\\{align\\}",
    "(?s)\\\\begin\\{eqnarray\\}.*?\\\\end\\{eqnarray\\}")
  val EquationIndicator = "[Ee]quation?\\s*\\(\\d+\\)[^.]*[.!?]"

  def equationsArr(c: Column): Column =
    slice(concat((LatexPatterns :+ EquationIndicator).map(hits(c, _, 0)): _*), 1, 10)

  def equations(c: Column): Column = array_join(equationsArr(c), "\n")

  // ------------------------------------------------------------------
  // E11 — derivation extraction (enhanced_paper_analyser.py:227-244):
  // 6 patterns (DOTALL), cap 5, join "\n".
  // ------------------------------------------------------------------
  val DerivationPatterns: Seq[String] = Seq(
    "(?s)[Dd]erivation[^.]*?(?:\n\n|\\z)",
    "(?s)[Pp]roof[^.]*?(?:\n\n|\\z)",
    "(?s)[Cc]alculation[^.]*?(?:\n\n|\\z)",
    "(?s)Starting with.*?we obtain",
    "(?s)Beginning with.*?we derive",
    "(?s)From.*?it follows that")

  def derivationsArr(c: Column): Column =
    slice(concat(DerivationPatterns.map(hits(c, _, 0)): _*), 1, 5)

  def derivations(c: Column): Column = array_join(derivationsArr(c), "\n")

  // ------------------------------------------------------------------
  // E12 — assumption extraction (enhanced_paper_analyser.py:246-262):
  // 6 sentence patterns, cap 10, join "\n".
  // ------------------------------------------------------------------
  val AssumptionPatterns: Seq[String] = Seq(
    "[Aa]ssum[ei][^.]*?[.!?]",
    "[Ww]e consider[^.]*?[.!?]",
    "[Ww]e neglect[^.]*?[.!?]",
    "[Ff]or simplicity[^.]*?[.!?]",
    "[Aa]pproximat[^.]*?[.!?]",
    "[Ii]n the limit[^.]*?[.!?]")

  def assumptionsArr(c: Column): Column =
    slice(concat(AssumptionPatterns.map(hits(c, _, 0)): _*), 1, 10)

  def assumptions(c: Column): Column = array_join(assumptionsArr(c), "\n")

  // ------------------------------------------------------------------
  // P8 — meaningful-step predicate (enhanced_training_builder.py:267-289):
  // (meaningful term OR math char) AND NOT avoid term AND >= 4 words.
  // ------------------------------------------------------------------
  val MeaningfulIndicators: Seq[String] = Seq(
    "equation", "energy", "force", "mass", "velocity", "field",
    "calculate", "derive", "solve", "substitute", "obtain",
    "therefore", "using", "from", "given", "hence", "thus")
  val AvoidTerms: Seq[String] = Seq(
    "figure", "table", "page", "section", "paper", "author", "reference")
  private[graft] val MathChars = Seq("=", "+", "-", "*", "/", "(", ")")

  def isMeaningfulStep(step: Column): Column = {
    val lo = lower(step)
    val hasMeaningful = containsAny(lo, MeaningfulIndicators)
    val hasMath = containsAny(step, MathChars)
    val hasAvoid = containsAny(lo, AvoidTerms)
    val wc = size(filter(split(trim(step), "(?U)\\s+"), w => length(w) > 0))
    (hasMeaningful || hasMath) && !hasAvoid && (wc >= 4)
  }

  // ------------------------------------------------------------------
  // E15 — CoT reasoning-step extraction (enhanced_training_builder.py:
  // 195-230): 4 capture-group patterns (IGNORECASE) filtered by length>10
  // + meaningful; if none → equation steps; if none → sentence fallback;
  // cap 6.
  // ------------------------------------------------------------------
  val StepPatterns: Seq[String] = Seq(
    "(?i)(?:Step\\s*\\d+|First|Next|Then|Finally)\\s*:?\\s*([^.]+\\.)",
    "(?i)(?:We have|We get|We find|We obtain|We use)\\s*:?\\s*([^.]+\\.)",
    "(?i)(?:From|Using|By|Since)\\s+([^.]+\\.)",
    "(?i)(?:Therefore|Thus|Hence)\\s+([^.]+\\.)")

  def reasoningSteps(c: Column): Column =
    // each battery is referenced twice in the when-chain (size + value) —
    // Let-bound so the regex work runs once (see graft.functions.Let)
    graft.functions.Let(concat(StepPatterns.map(p =>
      filter(transform(hits(c, p, 1), m => trim(m)),
        s => length(s) > 10 && isMeaningfulStep(s))): _*)) { primary =>
      graft.functions.Let(
        filter(transform(hits(c, "([^.]*=\\s*[^.]*\\.)", 1), m => trim(m)),
          s => length(s) > 10 && s.contains("="))) { eqSteps =>
        val sentences = filter(
          transform(split(coalesce(c, lit("")), "[.!?]+"), s => trim(s)),
          s => length(s) > 15 && isMeaningfulStep(s))
        val sentSteps = transform(sentences, s => concat(s, lit(".")))
        slice(
          when(size(primary) > 0, primary)
            .when(size(eqSteps) > 0, eqSteps)
            .otherwise(sentSteps),
          1, 6)
      }
    }

  // ------------------------------------------------------------------
  // E15 (analyser variant) — reasoning-step extraction
  // (enhanced_paper_analyser.py:918-949): 7 full-match patterns
  // (IGNORECASE), length 8..250 + meaningful; fallback APPENDS sentence
  // steps when fewer than 2 found; cap 10.
  // ------------------------------------------------------------------
  val AnalyserStepPatterns: Seq[String] = Seq(
    "(?i)(?:Step \\d+|First|Second|Third|Next|Then|Finally|Therefore|Hence|Thus)[^.]*\\.",
    "(?i)(?:We have|We get|We obtain|We find|We calculate|We derive)[^.]*\\.",
    "(?i)(?:Using|Applying|From|By)[^.]*(?:equation|formula|law|principle)[^.]*\\.",
    "(?i)(?:Substituting|Replacing|Setting)[^.]*=",
    "(?i)(?:Given|Assume|Consider|Let)[^.]*\\.",
    "(?i)(?:This gives|This yields|We see that|It follows that)[^.]*\\.",
    "(?i)(?:Since|Because|As)[^.]*(?:we have|we get|we obtain)[^.]*\\.")

  val AnalyserMeaningful: Seq[String] = Seq(
    "equation", "energy", "force", "calculate", "derive", "obtain",
    "result", "therefore", "using", "from")
  val AnalyserVixra: Seq[String] = Seq(
    "gravity", "universe", "theory", "model", "space", "time", "field",
    "particle", "mass", "velocity")
  val AnalyserAvoid: Seq[String] = Seq(
    "page", "figure", "table", "reference", "citation", "admin", "note")
  val AnalyserCommon: Seq[String] = Seq(
    "the", "and", "of", "to", "we", "is", "this", "that")

  /** _is_meaningful_step (enhanced_paper_analyser.py:951-966). */
  def isMeaningfulStepAnalyser(step: Column): Column = {
    val lo = lower(step)
    (containsAny(lo, AnalyserMeaningful) || containsAny(lo, AnalyserVixra)) &&
      !containsAny(lo, AnalyserAvoid) && containsAny(lo, AnalyserCommon)
  }

  def reasoningStepsAnalyser(c: Column): Column = {
    val primary = concat(AnalyserStepPatterns.map(p =>
      filter(transform(hits(c, p, 0), m => trim(m)),
        s => length(s) > 8 && length(s) < 250 && isMeaningfulStepAnalyser(s))): _*)
    val sentences = filter(
      transform(split(coalesce(c, lit("")), "[.!?]+"), s => trim(s)),
      s => length(s) > 15 && length(s) < 180 && isMeaningfulStepAnalyser(s))
    // reference APPENDS the sentence fallback when < 2 pattern steps found
    slice(when(size(primary) < 2, concat(primary, sentences)).otherwise(primary),
      1, 10)
  }

  // ------------------------------------------------------------------
  // E13 — complete derivations / worked solutions / proofs
  // (enhanced_paper_analyser.py:739-800): DOTALL+IGNORECASE batteries with
  // length windows and the English-physics-terms gate.
  // ------------------------------------------------------------------
  val EnglishPhysicsTerms: Seq[String] = Seq(
    "equation", "energy", "force", "field", "particle", "wave", "quantum",
    "mass", "velocity", "acceleration")
  val VixraPhysicsTerms: Seq[String] = Seq(
    "gravity", "gravitational", "universe", "cosmic", "theory", "model",
    "physics", "space", "time")
  val CommonEnglish: Seq[String] = Seq(
    "the", "and", "of", "to", "a", "in", "we", "can", "from", "with",
    "is", "are", "this", "that")

  private[graft] val EnglishPhysicsSample =
    new TermSample(Int.MaxValue, EnglishPhysicsTerms, VixraPhysicsTerms, CommonEnglish)

  /** _contains_english_physics_terms (enhanced_paper_analyser.py:802-818):
    * (>=1 physics term OR >=2 vixra terms) AND >=2 common English words —
    * substring containment 0/1 counts over the whole lowered text. The
    * battery filters call it per match, inside a lambda: the mask is
    * Let-bound so the three counts share one scan.
    */
  def containsEnglishPhysicsTerms(c: Column): Column =
    Let(EnglishPhysicsSample.mask(c)) { m =>
      val s = EnglishPhysicsSample
      (s.count(m, EnglishPhysicsTerms) >= 1 || s.count(m, VixraPhysicsTerms) >= 2) &&
        s.count(m, CommonEnglish) >= 2
    }

  val CompleteDerivationPatterns: Seq[String] = Seq(
    "(?si)(?:To derive|To show|To prove|We derive|We show|We calculate|We find).*?(?:Therefore|Thus|Hence|We obtain|This gives|Q\\.E\\.D\\.)[^.]*\\.",
    "(?si)(?:Starting with|Beginning with|We start with|From|Given).*?(?:Therefore|Thus|Hence|We obtain|This gives|we get|we find)[^.]*\\.",
    "(?si)(?:Step \\d+|First|Initially|Next|Then).*?(?:Finally|In conclusion|Therefore|we obtain|we get)[^.]*\\.",
    "(?si)(?:Let us|Consider|Suppose|Assume).*?(?:differential|equation|formula|energy|force|field).*?(?:solution|result|answer|we obtain|we get)[^.]*\\.",
    "(?si)(?:Using|Applying|From|By).*?(?:equation|formula|law|principle).*?(?:we get|we obtain|we find|this gives|therefore)[^.]*\\.",
    "(?si)(?:Substituting|Replacing|Setting|With).*?(?:=|equals).*?(?:we get|we obtain|we find|this gives)[^.]*\\.")

  def completeDerivations(c: Column): Column =
    slice(concat(CompleteDerivationPatterns.map(p =>
      filter(hits(c, p, 0),
        m => length(m) > 100 && length(m) < 2500 && containsEnglishPhysicsTerms(m))): _*),
      1, 7)

  val WorkedSolutionPatterns: Seq[String] = Seq(
    "(?si)(?:Problem|Example|Exercise).*?(?:Solution|Answer).*?(?:\n\n|\\d+\\.|\\z)",
    "(?si)(?:Given|Known).*?(?:Find|Calculate|Determine).*?(?:Solution|Answer).*?(?:\n\n|\\z)",
    "(?si)(?:Let us solve|To solve|Solving|We solve).*?(?:The result is|We find|The answer is|we get|we obtain)[^.]*\\.",
    "(?si)(?:Calculate|Computing|Finding|Determining).*?(?:=|equals|gives|yields).*?(?:\n|\\.|;)",
    "(?si)(?:Using|With|From).*?(?:equation|formula|relation).*?(?:we get|we obtain|we find|this gives|therefore)[^.]*\\.")

  def workedSolutions(c: Column): Column =
    slice(concat(WorkedSolutionPatterns.map(p =>
      filter(hits(c, p, 0),
        m => length(m) > 80 && length(m) < 1800 && containsEnglishPhysicsTerms(m))): _*),
      1, 7)

  val ProofPatterns: Seq[String] = Seq(
    "(?si)(?:Proof|Demonstration).*?(?:Q\\.E\\.D\\.|This completes|End of proof)",
    "(?si)(?:We prove|To prove).*?(?:Therefore|Hence|Thus)[^.]*\\.",
    "(?si)(?:By|Using|From).*?(?:equation|formula).*?(?:we get|we obtain|it follows)[^.]*\\.")

  def mathematicalProofs(c: Column): Column =
    slice(concat(ProofPatterns.map(p =>
      filter(hits(c, p, 0),
        m => length(m) > 100 && length(m) < 1200 && containsEnglishPhysicsTerms(m))): _*),
      1, 3)

  // ------------------------------------------------------------------
  // E17 — difficulty classifier (enhanced_paper_analyser.py:968-992):
  // advanced_count > 0 → advanced; intermediate_count > 1 → intermediate;
  // else introductory. Substring containment 0/1 counts.
  // ------------------------------------------------------------------
  val AdvancedIndicators: Seq[String] = Seq(
    "tensor", "manifold", "lagrangian", "hamiltonian", "variational",
    "differential geometry", "lie group", "quantum field theory",
    "gauge theory", "renormalization", "symmetry breaking")
  val IntermediateIndicators: Seq[String] = Seq(
    "partial derivative", "vector calculus", "fourier transform",
    "wave equation", "maxwell equations", "quantum mechanics",
    "statistical mechanics", "thermodynamics")

  def difficulty(c: Column): Column = {
    val m = ClassifierSample.mask(c)
    val adv = ClassifierSample.count(m, AdvancedIndicators)
    val inter = ClassifierSample.count(m, IntermediateIndicators)
    when(adv > 0, "advanced").when(inter > 1, "intermediate").otherwise("introductory")
  }

  // ------------------------------------------------------------------
  // E18 — topic classifier argmax (enhanced_paper_analyser.py:994-1019).
  // Python max() returns the FIRST max in dict insertion order — reproduce
  // via an ordered when-chain on score == best.
  // ------------------------------------------------------------------
  val TopicKeywords: Seq[(String, Seq[String])] = Seq(
    "mechanics" -> Seq("force", "acceleration", "momentum", "energy", "kinematics"),
    "electromagnetism" -> Seq("electric", "magnetic", "field", "charge", "current", "maxwell"),
    "thermodynamics" -> Seq("temperature", "entropy", "heat", "thermal", "gas"),
    "quantum" -> Seq("quantum", "wave function", "operator", "eigenvalue", "spin"),
    "relativity" -> Seq("relativity", "spacetime", "lorentz", "minkowski", "metric"),
    "optics" -> Seq("light", "optical", "photon", "interference", "diffraction"),
    "statistical" -> Seq("statistical", "distribution", "probability", "ensemble"),
    "astrophysics" -> Seq("stellar", "galactic", "cosmology", "black hole", "gravity"))

  /** One whole-text sample for the difficulty (E17) and topic (E18)
    * classifiers, which read the same text side by side: one scan serves
    * both columns of a projection.
    */
  private[graft] val ClassifierSample = new TermSample(Int.MaxValue,
    AdvancedIndicators +: IntermediateIndicators +: TopicKeywords.map(_._2): _*)

  def topic(text: Column, subject: Column): Column = {
    val m = ClassifierSample.mask(text)
    val scores = TopicKeywords.map { case (t, kws) =>
      t -> ClassifierSample.count(m, kws)
    }
    val best = greatest(scores.map(_._2): _*)
    val chain = scores.foldLeft(when(lit(false), lit(""))) { case (acc, (t, s)) =>
      acc.when(s === best && best > 0, lit(t))
    }
    chain.otherwise(
      when(subject.isNotNull && length(subject) > 0, lower(subject))
        .otherwise(lit("general")))
  }

  // ------------------------------------------------------------------
  // E20 — reasoning-type classifier (enhanced_paper_analyser.py:1393-1406)
  // ------------------------------------------------------------------
  val ReasoningTypeCues: Seq[(String, Seq[String])] = Seq(
    "mathematical_derivation" -> Seq("derive", "derivation", "proof", "show that"),
    "law_application" -> Seq("conservation", "law", "principle", "theorem"),
    "problem_solving" -> Seq("calculate", "find", "determine", "solve"),
    "knowledge_recall" -> Seq("given", "known", "condition"))

  def reasoningType(c: Column): Column = {
    val lo = lower(c)
    ReasoningTypeCues.foldLeft(when(lit(false), lit(""))) {
      case (acc, (t, cues)) => acc.when(containsAny(lo, cues), t)
    }.otherwise("reasoning_chain")
  }

  // ------------------------------------------------------------------
  // E21 — prerequisites + concepts (enhanced_paper_analyser.py:1060-1093)
  // ------------------------------------------------------------------
  val PrereqIndicators: Seq[(String, Seq[String])] = Seq(
    "calculus" -> Seq("derivative", "integral", "differential", "partial"),
    "linear_algebra" -> Seq("vector", "matrix", "eigenvalue", "determinant"),
    "differential_equations" -> Seq("differential equation", "laplace", "boundary condition"),
    "complex_analysis" -> Seq("complex", "analytic", "residue", "contour"),
    "group_theory" -> Seq("group", "symmetry", "representation", "invariant"),
    "probability" -> Seq("probability", "random", "stochastic", "distribution"))

  def prerequisites(c: Column): Column = {
    val lo = lower(c)
    filter(
      array(PrereqIndicators.map { case (name, inds) =>
        when(containsAny(lo, inds), lit(name)).otherwise(lit(null).cast("string"))
      }: _*),
      x => x.isNotNull)
  }

  val ConceptPatterns: Seq[String] = Seq(
    "(?i)(?:conservation of|principle of|law of)\\s+\\w+",
    "(?i)(?:theorem|equation|formula|relation|transformation)\\s+\\w+",
    "(?i)(?:model|theory|approximation|method)\\s+\\w+")

  /** list(set(...)) in the reference has unstable order; array_distinct
    * keeps first occurrence — deterministic (documented divergence).
    */
  def concepts(c: Column): Column =
    array_distinct(concat(ConceptPatterns.map(hits(c, _, 0)): _*))

  // ------------------------------------------------------------------
  // E16 — final-answer extraction (enhanced_training_builder.py:291-313):
  // LAST match of the answer patterns with len > 3, else last '='-sentence
  // with len > 8, else the default string.
  // ------------------------------------------------------------------
  val AnswerPatterns: Seq[String] = Seq(
    "(?i)(?:Answer|Result|Therefore|Thus|Hence|Finally)\\s*:?\\s*([^.]+)",
    "(?i)([^.]*=\\s*[0-9][^.]*(?:m|kg|s|Hz|eV|K|Pa|N|J|W|V|A|T)?[^.]*)")

  def finalAnswer(c: Column): Column = {
    val perPattern = AnswerPatterns.map { p =>
      val ms = filter(transform(hits(c, p, 1), m => trim(m)), a => length(a) > 3)
      when(size(ms) > 0, element_at(ms, -1)).otherwise(lit(null).cast("string"))
    }
    val eqSentences = filter(transform(split(coalesce(c, lit("")), "\\."), s => trim(s)),
      s => s.contains("=") && length(s) > 8)
    val lastEq = when(size(eqSentences) > 0, element_at(eqSentences, -1))
      .otherwise(lit(null).cast("string"))
    coalesce(perPattern.head, perPattern(1), lastEq,
      lit("Result derived as shown above"))
  }

  // ------------------------------------------------------------------
  // E22 — training quality score (enhanced_training_builder.py:315-361):
  // clarity 0.3/0.1 + good-step ratio*0.4 + '='-ratio*0.2 + flow 0.1/0.05,
  // clamp 1.0.
  // ------------------------------------------------------------------
  val QualityStepIndicators: Seq[String] = Seq(
    "equation", "energy", "force", "velocity", "field", "mass",
    "substituting", "using", "from", "therefore", "hence", "thus",
    "calculate", "derive", "solve", "obtain", "find")

  def isHighQualityStep(step: Column): Column = {
    val lo = lower(step)
    (length(step) >= 15) &&
      (containsAny(lo, QualityStepIndicators) ||
        containsAny(step, Seq("=", "+", "-", "*", "/", "(", ")")))
  }

  def assessQuality(problem: Column, steps: Column): Column = {
    val n = size(steps)
    val problemScore = when(
      length(problem) > 20 &&
        containsAny(lower(problem), Seq("find", "calculate", "derive", "show")),
      0.3).otherwise(0.1)
    val goodSteps = size(filter(steps, s => isHighQualityStep(s))).cast("double")
    val stepQuality = goodSteps / n.cast("double") * 0.4
    val mathContent = size(filter(steps, s => s.contains("="))).cast("double") /
      n.cast("double") * 0.2
    val flow = when(
      containsAny(lower(array_join(steps, " ")), Seq("therefore", "thus", "hence", "so")),
      0.1).otherwise(0.05)
    when(n === 0, 0.0).otherwise(
      least(lit(1.0), problemScore + stepQuality + mathContent + flow))
  }

  // ------------------------------------------------------------------
  // E25 — <think> section assembly (enhanced_training_builder.py:394-419):
  // First/Next/Finally prefixes, blank line after each, verification
  // suffix when quality > 0.7.
  // ------------------------------------------------------------------
  def thinkingSection(steps: Column, quality: Column): Column = {
    val n = size(steps)
    val body = array_join(
      transform(steps, (s, i) =>
        concat(
          when(i === 0, lit("First, "))
            .when(i === n - 1, lit("Finally, "))
            .otherwise(lit("Next, ")),
          s, lit("\n"))),
      "\n")
    val header = lit("Let me work through this physics problem step by step.\n\n")
    val verification = when(quality > 0.7,
      lit("\nLet me verify this makes physical sense...\nThe approach is consistent with known physics principles.\n"))
      .otherwise(lit(""))
    concat(header, body, verification)
  }

  /** Full RL-style completion (enhanced_training_builder.py:375-383). */
  def rlCompletion(steps: Column, quality: Column, answer: Column): Column =
    concat(lit("<think>\n"), thinkingSection(steps, quality), lit("\n</think>\n\n"),
      coalesce(nullif(trim(answer), lit("")),
        lit("The solution follows from the steps shown above.")))

  // ------------------------------------------------------------------
  // Problem/solution separation (enhanced_paper_analyser.py:1021-1058):
  // boundary = min(2, first index with a solution indicator); defaults per
  // reference when either side is empty.
  // ------------------------------------------------------------------
  val SolutionIndicators: Seq[String] = Seq(
    "solution", "answer", "we start", "beginning", "first step", "step 1")

  def problemStatement(steps: Column): Column = {
    val flags = transform(steps, s => containsAny(lower(s), SolutionIndicators))
    val pos = array_position(flags, true) // 0L when absent (Spark semantics)
    val firstSol = when(pos === 0L, lit(Long.MaxValue)).otherwise(pos)
    val boundary = least(lit(2L), firstSol - 1L)
    // all steps before the boundary are problem parts (the reference's
    // problem-indicator check only short-circuits to the same outcome)
    val probParts = slice(steps, lit(1), boundary.cast("int"))
    val solParts = slice(steps, (boundary + 1L).cast("int"), size(steps))
    when(size(steps) === 0, lit("Problem statement not clearly identified."))
      .when(size(solParts) === 0, lit("Problem statement not clearly identified."))
      .when(size(probParts) > 0, array_join(probParts, " "))
      .otherwise(lit("Derivation or proof:"))
  }

  def solutionSteps(steps: Column): Column = {
    val flags = transform(steps, s => containsAny(lower(s), SolutionIndicators))
    val pos = array_position(flags, true) // 0L when absent (Spark semantics)
    val firstSol = when(pos === 0L, lit(Long.MaxValue)).otherwise(pos)
    val boundary = least(lit(2L), firstSol - 1L)
    val solParts = slice(steps, (boundary + 1L).cast("int"), size(steps))
    when(size(solParts) === 0, steps).otherwise(solParts)
  }
}
