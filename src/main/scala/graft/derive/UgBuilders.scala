package graft.derive

import DeriveHelpers._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.rules.Heuristics.TermSample

import graft.functions.Let

/** The UGPhysics-style builders — the remaining two builder classes of
  * enhanced_paper_analyser.py:
  *
  *   - `EnhancedBenchmarkBuilder` (:286-668): structured physics-content
  *     extraction plus four UGPhysics-format questions, item kept with
  *     >= 2 questions. Fully runnable in the reference; implemented
  *     faithfully (`ugBenchmarkItems`).
  *   - `EnhancedTrainingDataBuilder` (:1134-1410): the UGPhysics training
  *     variant. UNRUNNABLE in the reference as written — two latent
  *     crashes: (a) `_extract_problem_solution_ugphysics_style`'s third
  *     problem pattern (:1289) has NO capture group but the code calls
  *     `match.group(1)` → IndexError whenever patterns 1-2 leave the
  *     problem unset and pattern 3 matches; (b) `_create_training_example`
  *     calls `_categorize_topic_enhanced` / `_identify_prerequisites_
  *     enhanced` / `_extract_physics_concepts_enhanced` (:1255,1272-1273)
  *     which are defined NOWHERE → AttributeError on every surviving
  *     block. The class is also never instantiated by any runner.
  *     `ugTrainingExamples` implements the evident intent with two
  *     documented repairs: pattern 3 contributes its FULL match, and the
  *     three `_enhanced` helpers resolve to the parent's
  *     `_categorize_topic` / `_identify_prerequisites` /
  *     `_extract_physics_concepts` (E18/E21, already implemented).
  */
object UgBuilders {

  /** Python max(xs, key=len) — FIRST element among maximal lengths. */
  private def firstLongest(arr: Column): Column =
    try_element_at(
      array_sort(transform(arr, (x, i) =>
        struct((-length(x)).as("nl"), i.as("i"), x.as("v")))),
      lit(1)).getField("v")

  // ====================================================================
  // EnhancedBenchmarkBuilder
  // ====================================================================

  /** _is_suitable_for_benchmark_enhanced (:641-668): len >= 500;
    * physics+math indicator count over text[:2000] >= 2 (vixra) / 3.
    */
  private[graft] val UgPhysicsIndicators = Seq("equation", "theory",
    "model", "energy", "force", "field", "quantum", "relativity",
    "particle", "wave", "conservation")
  private[graft] val UgMathIndicators = Seq("calculate", "derive", "solve",
    "proof", "theorem", "formula", "differential", "integral", "matrix",
    "vector")

  private[graft] val UgSample = new TermSample(2000, UgPhysicsIndicators, UgMathIndicators)

  def suitableForUgBenchmark(text: Column, url: Column): Column = {
    val threshold = when(lower(url).contains("vixra"), 2).otherwise(3)
    (length(trim(coalesce(text, lit("")))) >= 500) &&
      (UgSample.count(UgSample.mask(text), UgPhysicsIndicators ++ UgMathIndicators) >= threshold)
  }

  /** _extract_physics_content_structured (:333-377). Equation battery runs
    * DOTALL only (no ignorecase — reference passes re.DOTALL alone);
    * derivations/problems run DOTALL+IGNORECASE. The mathematical_steps /
    * physics_principles keys stay empty in the reference — dead fields,
    * not reproduced.
    */
  private[graft] val UgEqPatterns = Seq(
    "(?s)\\$\\$.*?\\$\\$",
    "(?s)\\$.*?\\$",
    "(?s)\\\\begin\\{equation\\}.*?\\\\end\\{equation\\}",
    "(?s)[A-Za-z]\\s*=\\s*[^,.\n]{3,50}",
    "(?s)[∇∂].*?=.*?[^,.\n]{3,50}")
  private[graft] val UgDerivPatterns = Seq(
    "(?si)(?:Derivation|Proof|To show|To derive).*?(?:Q\\.E\\.D\\.|Therefore|Thus)[^.]*\\.",
    "(?si)(?:Starting with|From|Given).*?(?:equation|relation).*?(?:we get|we obtain)[^.]*\\.")
  private[graft] val UgProblemPatterns = Seq(
    "(?si)(?:Problem|Example|Exercise)\\s*:?.*?(?:Solution|Answer).*?(?:\n\n|\\z)",
    "(?si)(?:Find|Calculate|Determine|Show).*?(?:Given|where).*?(?:Solution|Answer|Therefore).*?")

  /** Conservative NECESSARY literal anchors per battery pattern (every
    * alternation branch implies all listed groups), so anchor-free docs
    * skip the nested-lazy DOTALL scans entirely — exactness-preserving
    * (BuilderRobustnessSpec) and asserted structurally by
    * AnchorGuardSpec. Equation patterns are case-SENSITIVE `(?s)` →
    * their anchors test the RAW text; derivation/problem patterns are
    * `(?si)` → anchors test the lowered text.
    */
  private[graft] val UgEqAnchors: Seq[Seq[Seq[String]]] = Seq(
    Seq(Seq("$$")),
    Seq(Seq("$")),
    Seq(Seq("\\begin{equation}")),
    Seq(Seq("=")),
    Seq(Seq("∇", "∂"), Seq("=")))
  private[graft] val UgDerivAnchors: Seq[Seq[Seq[String]]] = Seq(
    Seq(Seq("derivation", "proof", "to show", "to derive"),
      Seq("q.e.d.", "therefore", "thus")),
    Seq(Seq("starting with", "from", "given"), Seq("equation", "relation"),
      Seq("we get", "we obtain")))
  private[graft] val UgProblemAnchors: Seq[Seq[Seq[String]]] = Seq(
    Seq(Seq("problem", "example", "exercise"), Seq("solution", "answer")),
    Seq(Seq("find", "calculate", "determine", "show"), Seq("given", "where"),
      Seq("solution", "answer", "therefore")))

  /** All word-anchor terms of the UG batteries, one whole-text sample
    * whose mask every word guard tests (lazy: UgDerivationAnchors is
    * declared further down the object). The equation battery keeps plain
    * raw-text contains guards — its anchors are single symbols ($, =, ∇)
    * where a per-term scan is already one pass.
    */
  private[graft] lazy val UgWordAnchorTerms: Seq[String] =
    (UgDerivAnchors ++ UgProblemAnchors ++ UgDerivationAnchors)
      .flatten.flatten.distinct

  private[graft] lazy val UgWordAnchorSample = new TermSample(Int.MaxValue, UgWordAnchorTerms)

  private def batteryStripped(text: Column,
                              guardFor: Seq[Seq[String]] => Column,
                              patterns: Seq[String],
                              anchors: Seq[Seq[Seq[String]]],
                              minLen: Int): Column =
    patterns.zip(anchors).map { case (p, a) =>
      filter(transform(anchoredHits(guardFor(a), text, p), m => trim(m)),
        m => length(m) > minLen)
    }.reduce(concat(_, _))

  private def wordGuarded(text: Column)(body: (Seq[Seq[String]] => Column) => Column): Column =
    Let(UgWordAnchorSample.mask(text)) { m =>
      body(a => a.map(g => UgWordAnchorSample.count(m, g) > 0).reduce(_ && _))
    }

  /** The four UGPhysics question builders (:379-612) as (qtype, question)
    * structs (null when a builder declines). Templates are verbatim.
    */
  private def q1Derivation(eqs: Column, derivs: Column, subject: Column,
                           abstractC: Column): Column =
    Let(when(size(derivs) > 0, firstLongest(derivs))
      .otherwise(try_element_at(filter(eqs, e => length(e) > 20), lit(1)))) { best =>
      when((size(eqs) > 0 || size(derivs) > 0) &&
        best.isNotNull && length(best) >= 30,
        struct(lit("mathematical_derivation").as("qtype"),
          concat(
            lit("Given the physics context from this work on "), lower(subject),
            lit(":\n\nAbstract: "), substring(abstractC, 1, 500),
            lit("...\n\nAnalyze the following mathematical derivation and identify any errors in the mathematical reasoning, dimensional analysis, or application of physics principles:\n\n"),
            substring(best, 1, 800),
            lit("\n\nProvide a detailed analysis of:\n1. Mathematical consistency of the derivation\n2. Proper application of physics principles\n3. Dimensional correctness of equations\n4. Any logical gaps or unjustified steps"))
            .as("question")))
        .otherwise(lit(null))
    }

  private def q2Reasoning(issues: Column, subject: Column,
                          abstractC: Column): Column =
    when(size(issues) > 0,
      struct(lit("reasoning_analysis").as("qtype"),
        concat(
          lit("Analyze the physics reasoning in this work on "), lower(subject),
          lit(":\n\nAbstract: "), substring(abstractC, 1, 500),
          lit("""...

This work has been identified as having potential reasoning issues. Examine the approach and methodology for:

1. **Logical consistency**: Are the arguments internally consistent?
2. **Physics assumptions**: Are the underlying physics assumptions valid?
3. **Mathematical rigor**: Is the mathematical treatment appropriate?
4. **Literature context**: How does this relate to established physics?

Provide a critical analysis focusing on potential flaws in the reasoning process."""))
          .as("question")))
      .otherwise(lit(null))

  private def q3ProblemSolving(probs: Column, subject: Column): Column =
    Let(Gates.problemSolutionParts(firstLongest(probs))) { parts =>
      when(size(probs) > 0 &&
        length(parts.getField("problem")) >= 30 &&
        length(parts.getField("solution")) >= 50,
        struct(lit("problem_solving").as("qtype"),
          concat(
            lit("Consider this physics problem from the domain of "), lower(subject),
            lit(":\n\n**Problem**: "), parts.getField("problem"),
            lit("\n\n**Proposed Solution**: "),
            substring(parts.getField("solution"), 1, 600),
            lit("...\n\nEvaluate this solution approach:\n1. Is the problem setup correct?\n2. Are the solution methods appropriate?\n3. Are there any errors in the mathematical steps?\n4. Is the final result reasonable?\n\nProvide a detailed critique of the solution methodology."))
            .as("question")))
        .otherwise(lit(null))
    }

  /** Principles map (:565-578) — dict order decides the first containment
    * hit; fallback list when no domain matches.
    */
  private[graft] val PrinciplesMap: Seq[(String, Seq[String])] = Seq(
    "Quantum Physics" -> Seq("wave-particle duality", "uncertainty principle", "quantum superposition"),
    "General Relativity" -> Seq("equivalence principle", "spacetime curvature", "geodesic motion"),
    "Thermodynamics" -> Seq("conservation of energy", "entropy increase", "thermal equilibrium"),
    "Electromagnetism" -> Seq("Maxwell's equations", "charge conservation", "electromagnetic induction"),
    "High Energy Physics" -> Seq("conservation laws", "symmetry principles", "gauge invariance"))
  private[graft] val FallbackPrinciples =
    Seq("conservation of energy", "dimensional consistency", "physical reasonableness")

  private def relevantPrinciples(subject: Column): Column = {
    val lo = lower(subject)
    val chain = PrinciplesMap.foldLeft(when(lit(false), lit(""))) {
      case (acc, (domain, ps)) =>
        acc.when(lo.contains(domain.toLowerCase(java.util.Locale.ROOT)), lit(ps.take(3).mkString(", ")))
    }
    chain.otherwise(lit(FallbackPrinciples.take(3).mkString(", ")))
  }

  private def q4Principles(subject: Column, abstractC: Column): Column =
    struct(lit("principles_application").as("qtype"),
      concat(
        lit("Examine this work in "), lower(subject),
        lit(":\n\nAbstract: "), substring(abstractC, 1, 400),
        lit("""...

Analyze how well this work applies fundamental physics principles. Consider:

1. **Conservation Laws**: Are relevant conservation laws properly applied?
2. **Symmetry Principles**: Are symmetries correctly identified and used?
3. **Dimensional Analysis**: Is dimensional consistency maintained?
4. **Physical Intuition**: Do the results align with physical expectations?

Focus particularly on the application of: """),
        relevantPrinciples(subject),
        lit("\n\nIdentify any violations or misapplications of these fundamental principles."))
        .as("question"))

  /** create_reasoning_benchmark (:289-331): gate → structured content
    * (null when every battery is empty) → questions → keep with >= 2.
    * One output row per question: url, clean_title, qtype, question,
    * n_questions + the assessment summary columns.
    *
    * Expects scored-pipeline columns (issues, sophistication,
    * recommendation, overall_score) plus subject/title/abstract.
    */
  def ugBenchmarkItems(scored: DataFrame, urlCol: String, textCol: String,
                       subjectCol: String, titleCol: String,
                       abstractCol: String): DataFrame = {
    val text = col(textCol)
    // the deriv and problem batteries share one anchor-mask scan per row;
    // the equation battery's symbol anchors are raw-text contains tests
    val content = wordGuarded(text) { g =>
      struct(
        batteryStripped(text,
          a => a.map(gr => containsAny(text, gr)).reduce(_ && _),
          UgEqPatterns, UgEqAnchors, 5).as("eqs"),
        batteryStripped(text, g, UgDerivPatterns, UgDerivAnchors, 50).as("derivs"),
        batteryStripped(text, g, UgProblemPatterns, UgProblemAnchors, 100).as("probs"))
    }
    val base = graft.functions.ComputeOnce(
      scored.filter(suitableForUgBenchmark(text, col(urlCol))), "__ug",
      content)
      // `return None if not any(content.values())`
      .filter(size(col("__ug.eqs")) + size(col("__ug.derivs")) +
        size(col("__ug.probs")) > 0)
      .withColumn("clean_title", graft.extract.Clean.titleClean(col(titleCol)))
      .withColumn("clean_abstract",
        graft.extract.Clean.abstractTruncate(col(abstractCol)))

    val qs = filter(array(
      q1Derivation(col("__ug.eqs"), col("__ug.derivs"), col(subjectCol),
        col("clean_abstract")),
      q2Reasoning(col("issues"), col(subjectCol), col("clean_abstract")),
      q3ProblemSolving(col("__ug.probs"), col(subjectCol)),
      q4Principles(col(subjectCol), col("clean_abstract"))), q => q.isNotNull)

    graft.functions.ComputeOnce(base, "__qs", qs)
      .filter(size(col("__qs")) >= 2) // `if len(questions) < 2: return None`
      .withColumn("n_questions", size(col("__qs")))
      .select(col(urlCol).as("url"), col("clean_title"),
        round(col("overall_score"), 6).as("overall_score"),
        round(col("sophistication"), 6).as("sophistication"),
        col("recommendation"), size(col("issues")).as("issues_count"),
        col("n_questions"), explode(col("__qs")).as("q"))
      .select(col("url"), col("clean_title"), col("q.qtype").as("qtype"),
        col("q.question").as("question"), col("n_questions"),
        col("overall_score"), col("sophistication"), col("recommendation"),
        col("issues_count"))
  }

  // ====================================================================
  // EnhancedTrainingDataBuilder (repaired — see object Scaladoc)
  // ====================================================================

  /** The overridden _find_complete_derivations battery (:1137-1166):
    * 5 UGPhysics patterns → C7 derivation clean → the completeness
    * predicate → cap 5.
    */
  private[graft] val UgDerivationPatterns = Seq(
    "(?si)(?:Given|Starting with|Consider|Let)\\s+.*?(?:equation|formula|relation).*?(?:\n.*?)*?(?:Therefore|Thus|Hence|We obtain|Solution)\\s*:?\\s*.*?(?:\n.*?)*?(?=\n\n|\\z)",
    "(?si)(?:Problem|Question)\\s*:?\\s*.*?(?:\n.*?)*?(?:Solution|Answer)\\s*:?\\s*.*?(?:\n.*?)*?(?:Therefore|Hence|Final answer)\\s*:?\\s*.*?(?=\n\n|\\z)",
    "(?si)(?:Step\\s+\\d+|First|Initially|Next|Then).*?(?:\n(?:Step\\s+\\d+|Next|Then|Finally|Therefore).*?)*(?:\n.*?)*?(?=\n\n|\\z)",
    "(?si)(?:Using|Applying|From)\\s+(?:conservation|law|principle|theorem)\\s+of\\s+\\w+.*?(?:\n.*?)*?(?:we get|we obtain|this gives)\\s*:?\\s*.*?(?=\n\n|\\z)",
    "(?si)(?:From\\s+)?(?:equation|relation)\\s*\\(\\d+\\).*?(?:\n.*?)*?(?:substituting|rearranging|solving).*?(?:\n.*?)*?(?:we get|we obtain)\\s*:?\\s*.*?(?=\n\n|\\z)")

  /** RE2-safe EXISTENCE equivalents of UgDerivationPatterns for the
    * DuckDB oracle layer (same reasoning as RlBuilder's existence forms:
    * the trailing `(?=\n\n|\z)` is always satisfiable via \z, interior
    * lazy runs and `\s*:?\s*` match empty, so existence reduces to the
    * mandatory runs in order with their adjacencies kept). Equivalence is
    * machine-checked by ExistenceParitySpec.
    */
  private[graft] val UgDerivationExistence = Seq(
    "(?si)(?:Given|Starting with|Consider|Let)\\s.*(?:equation|formula|relation).*(?:Therefore|Thus|Hence|We obtain|Solution)",
    "(?si)(?:Problem|Question).*(?:Solution|Answer).*(?:Therefore|Hence|Final answer)",
    "(?si)(?:Step\\s+\\d+|First|Initially|Next|Then)",
    "(?si)(?:Using|Applying|From)\\s+(?:conservation|law|principle|theorem)\\s+of\\s+\\w.*(?:we get|we obtain|this gives)",
    "(?si)(?:equation|relation)\\s*\\(\\d+\\).*(?:substituting|rearranging|solving).*(?:we get|we obtain)")

  /** _is_complete_derivation (:1195-1221): len >= 100, a starter AND a
    * conclusion marker, and math-or-physics content.
    */
  private[graft] val UgCompleteStarters = Seq("given", "starting with",
    "consider", "let", "assume", "suppose")
  private[graft] val UgCompleteConclusions = Seq("therefore", "thus",
    "hence", "we obtain", "we get", "solution", "result")
  private[graft] val UgCompleteMath = Seq("equation", "formula",
    "derivative", "integral", "solve", "calculate")
  private[graft] val UgCompletePhys = Seq("energy", "force", "field",
    "particle", "wave", "quantum", "mass", "velocity")

  def isCompleteDerivation(c: Column): Column = {
    val lo = lower(c)
    (length(c) >= 100) &&
      containsAny(lo, UgCompleteStarters) &&
      containsAny(lo, UgCompleteConclusions) &&
      (containsAny(lo, UgCompleteMath) || containsAny(lo, UgCompletePhys))
  }

  /** Conservative NECESSARY literal anchors per UG derivation pattern
    * (every alternation branch requires all listed groups): a doc missing
    * any group cannot match, so the expensive DOTALL regex is skipped —
    * exactness-preserving (UgBuildersSpec equality test) and the at-scale
    * fast path (most raw web docs lack the anchors entirely).
    */
  private[graft] val UgDerivationAnchors: Seq[Seq[Seq[String]]] = Seq(
    Seq(Seq("given", "starting with", "consider", "let"),
      Seq("equation", "formula", "relation"),
      Seq("therefore", "thus", "hence", "we obtain", "solution")),
    Seq(Seq("problem", "question"), Seq("solution", "answer"),
      Seq("therefore", "hence", "final answer")),
    Seq(Seq("step", "first", "initially", "next", "then")),
    Seq(Seq("using", "applying", "from"),
      Seq("conservation", "law", "principle", "theorem"),
      Seq("we get", "we obtain", "this gives")),
    Seq(Seq("equation", "relation"),
      Seq("substituting", "rearranging", "solving"),
      Seq("we get", "we obtain")))

  private def anchoredHits(guard: Column, text: Column,
                           pattern: String): Column =
    when(guard, hits(text, pattern, 0)).otherwise(array().cast("array<string>"))

  /** Battery scans stay guarded Catalyst; the per-candidate clean +
    * completeness check runs as the fused UgExample.completeDerivationCol
    * (Column form kept as ugFindCompleteDerivationsRef;
    * UgExampleParitySpec).
    */
  def ugFindCompleteDerivations(text: Column): Column =
    wordGuarded(text) { g =>
      slice(
        UgDerivationPatterns.zip(UgDerivationAnchors).map { case (p, a) =>
          filter(transform(anchoredHits(g(a), text, p),
            UgExample.completeDerivationCol(_)),
            m => m.isNotNull)
        }.reduce(concat(_, _)),
        1, 5)
    }

  private[graft] def ugFindCompleteDerivationsRef(text: Column): Column =
    wordGuarded(text) { g =>
      slice(
        UgDerivationPatterns.zip(UgDerivationAnchors).map { case (p, a) =>
          filter(transform(anchoredHits(g(a), text, p),
            m => Gates.derivationClean(m)),
            m => isCompleteDerivation(m))
        }.reduce(concat(_, _)),
        1, 5)
    }

  /** _extract_problem_solution_ugphysics_style (:1282-1304), repaired:
    * first re.search hit per pattern, group 1 for the two grouped
    * patterns, FULL match for the group-less third (the reference's
    * `match.group(1)` there is crash (a) in the object Scaladoc);
    * candidate used when len > 30 and meaningful-sentence.
    */
  private[graft] val UgProblemStmtPatterns: Seq[(String, Int)] = Seq(
    ("(?i)(?:Problem|Question)\\s*:?\\s*([^.]*\\.(?:[^.]*\\.)*)", 1),
    ("(?i)(?:Given|Consider|Find|Calculate|Determine|Show|Prove)\\s+([^.]*\\.(?:[^.]*\\.)*)", 1),
    ("(?i)(?:A|An)\\s+[^.]*(?:particle|wave|field|system)[^.]*\\.(?:[^.]*\\.)*", 0))

  def ugProblemStatement(text: Column): Column = {
    val candidates = UgProblemStmtPatterns.map { case (p, g) =>
      Let(trim(regexp_extract(text, p, g))) { cand =>
        when(length(cand) > 30 && Gates.isMeaningfulSentence(cand), cand)
          .otherwise(lit(null).cast("string"))
      }
    }
    coalesce(candidates :+ lit("Problem statement not clearly identified."): _*)
  }

  /** _extract_solution_steps_enhanced (:1306-1337): 6 step patterns (note
    * only pattern 1 captures a group — the others contribute their FULL
    * match, faithful to re.findall's group-0 fallback ... re.findall with
    * 0 groups returns full matches, with 1 group returns that group), len
    * > 20 + the enhanced meaningful predicate; sentence fallback APPENDS
    * when < 2 pattern steps; cap 8.
    */
  private[graft] val UgStepPatterns: Seq[(String, Int)] = Seq(
    ("(?i)(?:Step\\s+\\d+|First|Initially|Next|Then|Finally)\\s*:?\\s*([^.]*\\.)", 1),
    ("(?i)(?:Using|Applying|From|By)\\s+(?:equation|formula|law|principle|conservation)\\s+[^.]*\\.", 0),
    ("(?i)(?:Substituting|Setting|With|Given)\\s+[^.]*=.*?\\.", 0),
    ("(?i)(?:Therefore|Thus|Hence|We obtain|We get|This gives)\\s+[^.]*\\.", 0),
    ("(?i)(?:The|A|An)\\s+[^.]*(?:energy|force|momentum|velocity|acceleration)[^.]*\\.", 0),
    ("(?i)(?:Solving|Calculating|Finding|Determining)\\s+[^.]*\\.", 0))

  private[graft] val UgEnhPhysTerms = Seq("energy", "force", "field",
    "particle", "wave", "momentum", "velocity", "acceleration", "mass",
    "charge", "potential")
  private[graft] val UgEnhMathTerms = Seq("equation", "formula",
    "derivative", "integral", "solve", "calculate", "substitute", "equal",
    "therefore", "hence")
  private[graft] val UgEnhAvoidTerms = Seq("page", "figure", "table",
    "section", "chapter", "reference")

  def isMeaningfulStepEnhanced(step: Column): Column = {
    val lo = lower(step)
    (containsAny(lo, UgEnhPhysTerms) || containsAny(lo, UgEnhMathTerms)) &&
      !containsAny(lo, UgEnhAvoidTerms)
  }

  def ugSolutionSteps(text: Column): Column =
    Let(UgStepPatterns.map { case (p, g) =>
      filter(transform(hits(text, p, g), m => trim(m)),
        s => length(s) > 20 && isMeaningfulStepEnhanced(s))
    }.reduce(concat(_, _))) { patternSteps =>
      val sentences = filter(
        transform(split(coalesce(text, lit("")), "[.!?]+"), s => trim(s)),
        s => length(s) > 25 && isMeaningfulStepEnhanced(s))
      slice(
        when(size(patternSteps) < 2, concat(patternSteps, sentences))
          .otherwise(patternSteps),
        1, 8)
    }

  /** _assess_difficulty_enhanced (:1357-1391). */
  private[graft] val UgAdvanced = Seq("quantum field theory",
    "general relativity", "gauge theory", "renormalization",
    "feynman diagram", "lagrangian", "hamiltonian", "tensor", "manifold",
    "lie group", "symmetry breaking", "partial differential",
    "tensor calculus", "group theory", "complex analysis",
    "differential geometry")
  private[graft] val UgIntermediate = Seq("quantum mechanics",
    "special relativity", "electromagnetic field", "statistical mechanics",
    "thermodynamics", "wave equation", "schrodinger equation",
    "maxwell equations", "fourier transform", "differential equation",
    "linear algebra", "calculus", "vector calculus", "complex numbers")

  private[graft] val UgDifficultySample = new TermSample(Int.MaxValue, UgAdvanced, UgIntermediate)

  def ugDifficulty(c: Column): Column = {
    val m = UgDifficultySample.mask(c)
    val adv = UgDifficultySample.count(m, UgAdvanced)
    val inter = UgDifficultySample.count(m, UgIntermediate)
    // as RlBuilder.rlDifficulty: one mask per row under subexpression elimination
    when(inter >= 2 || adv >= 1, when(adv >= 2, "advanced").otherwise("intermediate"))
      .otherwise("introductory")
  }

  /** The repaired EnhancedTrainingDataBuilder chain: parent suitability
    * gate → UG derivation battery [:3] + inherited solutions [:3] /
    * proofs [:2] (E13) → per-block: C7 clean, len >= 100, UG problem +
    * enhanced steps (>= 2), enhanced difficulty, parent topic/prereqs/
    * concepts (crash (b) repair), E20 reasoning type.
    */
  def ugTrainingExamples(df: DataFrame, urlCol: String, textCol: String,
                         subjectCol: String, titleCol: String): DataFrame = {
    val text = col(textCol)
    val fusedBlocks = BlockExtract.blocksCol(text)
    val blockStruct: (Column, String) => Column = (arr, typ) =>
      transform(arr, b => struct(lit(typ).as("example_type"), b.as("block")))

    val withBlocks = graft.functions.ComputeOnce(
      graft.functions.ComputeOnce(
        Derive.TrainingSample.filter(df, text)(Derive.trainingGate(text, col(urlCol), _)),
        "__ugDerivs", ugFindCompleteDerivations(text)),
      "__bx", fusedBlocks)
      .withColumn("blocks", concat(
        blockStruct(slice(col("__ugDerivs"), 1, 3), "derivation"),
        blockStruct(slice(col("__bx.solutions"), 1, 3), "solution"),
        blockStruct(slice(col("__bx.proofs"), 1, 2), "proof")))
      .filter(size(col("blocks")) > 0)
      .select(col(urlCol).as("url"), col(subjectCol).as("subject"),
        col(titleCol).as("title"), explode(col("blocks")).as("b"))

    val withCleaned = graft.functions.ComputeOnce(withBlocks, "cleaned",
      UgExample.derivationCleanCol(col("b.block")))
      .filter(length(col("cleaned")) >= 100)

    // the whole per-block metadata stage fused into one compiled pass
    // (UgExample.metaCol; Column forms remain the q45/q49 oracle surface
    // and the UgExampleParitySpec reference)
    val withMeta = graft.functions.ComputeOnce(withCleaned, "m",
      UgExample.metaCol(col("cleaned"), col("subject")))
      .filter(col("m.step_count") >= 2)

    withMeta
      .withColumn("problem_statement", col("m.problem_statement"))
      .withColumn("steps", col("m.steps"))
      .withColumn("step_count", col("m.step_count"))
      .withColumn("difficulty", col("m.difficulty"))
      .withColumn("topic", col("m.topic"))
      .withColumn("reasoning_type", col("m.reasoning_type"))
      .withColumn("prerequisites", col("m.prerequisites"))
      .withColumn("concepts", col("m.concepts"))
      .withColumn("clean_title",
        graft.extract.Clean.titleCleanTraining(col("title")))
      .withColumn("raw_text", col("m.raw_text"))
      .withColumn("example_type", col("b.example_type"))
      .withColumn("id", concat_ws("_", col("url"), col("example_type"),
        pmod(xxhash64(col("cleaned")), lit(10000))))
      .select("id", "url", "example_type", "problem_statement", "steps",
        "step_count", "difficulty", "topic", "reasoning_type",
        "prerequisites", "concepts", "clean_title", "raw_text")
  }
}
