package graft.derive

import DeriveHelpers._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.rules.Heuristics.TermSample

import graft.extract.Clean

/** The v2/v3 benchmark builders (SURVEY.md §2.4 E24; round-1 verdict
  * "What's missing" #1/#2):
  *
  *   - `benchmarkItemsV2` — SelfContainedBenchmarkBuilder: per-concept
  *     problems from ACTUAL extracted paper concepts
  *     (analysis/enhanced_benchmark_builder.py:23-383), with the
  *     concept-based difficulty variant (:461-481).
  *   - `benchmarkItemsV3` — ActualConceptBenchmarkBuilder: the
  *     equation/derivation/numerical/scenario battery
  *     (enhanced_analyzer_integration2.py:39-435).
  *
  * Both are one Dataset plan each: suitability gate → per-row concept
  * extraction (regexp batteries + higher-order filters) → up to 4 problem
  * structs → `filter(isNotNull)` → `explode` — one row per problem, the
  * relational flattening of the reference's nested JSON. Python's salted
  * `hash(x) % 10000` ids are `pmod(xxhash64(x), 10000)` (E23 divergence,
  * SURVEY §7.4). Zero shuffles; everything is narrow per-row work.
  */
object BenchmarkBuilders {

  private def hitsAll(c: Column, patterns: Seq[String]): Column =
    concat(patterns.map(hits(c, _, 1)): _*)

  private def bullets(arr: Column): Column =
    aggregate(arr, lit(""), (acc, x) => concat(acc, lit("• "), x, lit("\n")))

  private def numbered(arr: Column): Column =
    aggregate(
      transform(arr, (s, i) => concat((i + 1).cast("string"), lit(". "), s)),
      lit(""), (acc, x) => concat(acc, x, lit("\n")))

  private def id10k(prefix: String, url: Column, h: Column): Column =
    concat(lit(prefix), url, lit("_"), pmod(h, lit(10000L)))

  // ====================================================================
  // V2 — SelfContainedBenchmarkBuilder
  // ====================================================================

  /** _contains_physics_content (enhanced_benchmark_builder.py:404-420):
    * >= 1 of 21 physics terms OR a math char (incl '^').
    */
  private[graft] val V2PhysicsTerms = Seq(
    "energy", "force", "field", "particle", "wave", "mass", "velocity",
    "momentum", "charge", "potential", "frequency", "wavelength",
    "temperature", "pressure", "density", "current", "voltage",
    "magnetic", "electric", "quantum", "classical", "relativistic")
  private[graft] val V2MathChars = Seq("=", "+", "-", "*", "/", "(", ")", "^")

  private def containsPhysicsContentV2(c: Column): Column =
    containsAny(lower(c), V2PhysicsTerms) || containsAny(c, V2MathChars)

  /** _is_suitable_for_benchmark (enhanced_benchmark_builder.py:486-500):
    * len >= 800 AND (>= 2 'X =' matches OR >= 4 of 10 indicators in
    * text[:2000]).
    */
  private[graft] val V2SuitIndicators = Seq(
    "energy", "force", "field", "particle", "wave", "quantum",
    "equation", "formula", "derivation", "calculation")

  private[graft] val V2SuitSample = new TermSample(2000, V2SuitIndicators)

  def suitableForBenchmarkV2(text: Column): Column = {
    val hasEq = text.contains("=") &&
      (size(hits(text, "[A-Za-z]\\s*=", 0)) >= 2)
    val physCnt = V2SuitSample.count(V2SuitSample.mask(text), V2SuitIndicators)
    (length(trim(text)) >= 800) && (hasEq || physCnt >= 4)
  }

  /** _extract_actual_concepts_from_paper equation battery (:76-89). */
  private[graft] val V2EqPatterns = Seq(
    "(?i)([A-Za-z_]\\w*\\s*=\\s*[^,.\\n]{10,80})",
    "(?i)(\\\\frac\\{[^}]+\\}\\{[^}]+\\}(?:\\s*[=+\\-]\\s*[^.]{0,50})?)",
    "(?i)((?:E|F|V|p|m|v|a|g|H|L|T|P)\\s*=\\s*[^,.\\n]{5,60})",
    "(?i)(∇[^.]{5,50})",
    "(?i)(∂[^.]{5,50})")

  private[graft] def v2Equations(text: Column): Column =
    filter(transform(hitsAll(text, V2EqPatterns), m => Clean.equationClean(m)),
      e => (length(e) > 0) && Gates.isMeaningfulEquation(e))

  /** derivation battery (:91-104): group-1 fragments, len > 20 + physics. */
  private[graft] val V2DerivPatterns = Seq(
    "(?i)(?:Starting with|Beginning with|From|Given)\\s+([^.]*?(?:equation|formula|relation)[^.]*?)(?:\\.|\\n)",
    "(?i)(?:Substituting|Using|Applying)\\s+([^.]*?(?:=|into|yields?)[^.]*?)(?:\\.|\\n)",
    "(?i)(?:Therefore|Thus|Hence)\\s+([^.]*?=\\s*[^.]*?)(?:\\.|\\n)")

  private[graft] def v2Derivations(text: Column): Column =
    filter(transform(hitsAll(text, V2DerivPatterns), m => trim(m)),
      d => (length(d) > 20) && containsPhysicsContentV2(d))

  /** scenario battery (:106-118): len > 30 + physics content. */
  private[graft] val V2ScenarioPatterns = Seq(
    "(?i)(?:Consider|Suppose|Let|Assume)\\s+([^.]*?(?:particle|system|field|wave|oscillator|potential)[^.]*?)(?:\\.|\\n)",
    "(?i)(?:In this|Our|The)\\s+([^.]*?(?:experiment|setup|system|model|approach)[^.]*?)(?:\\.|\\n)",
    "(?i)(?:We study|We consider|We analyze)\\s+([^.]*?)(?:\\.|\\n)")

  private[graft] def v2Scenarios(text: Column): Column =
    filter(transform(hitsAll(text, V2ScenarioPatterns), m => trim(m)),
      s => (length(s) > 30) && containsPhysicsContentV2(s))

  /** numerical battery (:120-130) + _is_meaningful_numerical_value
    * (:422-440: a digit, a unit/context substring, len > 5).
    */
  private[graft] val V2NumPatterns = Seq(
    "(?i)([A-Za-z_]\\w*\\s*=\\s*[0-9]+\\.?[0-9]*(?:\\s*×\\s*10[⁻⁰-⁹]+)?\\s*(?:m|kg|s|Hz|eV|K|Pa|N|J|W|V|A|T|rad)?\\b)",
    "(?i)((?:wavelength|frequency|energy|mass|velocity|temperature|pressure)\\s*(?:of|=|is)\\s*[0-9]+[^.\\n]*)")
  private[graft] val V2NumContexts = Gates.PhysicsUnits

  private[graft] def v2Numericals(text: Column): Column =
    filter(transform(hitsAll(text, V2NumPatterns), m => trim(m)),
      v => v.rlike("\\d") && containsAny(lower(v), V2NumContexts) &&
        (length(v) > 5))

  /** principles battery (:132-146). */
  private[graft] val V2PrinciplePatterns = Seq(
    "(?i)(conservation of \\w+[^.]*)",
    "(?i)(Newton'?s? \\w+ law[^.]*)",
    "(?i)(Maxwell'?s? equations?[^.]*)",
    "(?i)(Schr[öo]dinger equation[^.]*)",
    "(?i)(uncertainty principle[^.]*)",
    "(?i)(thermodynamic \\w+ law[^.]*)")

  private[graft] def v2Principles(text: Column): Column =
    transform(hitsAll(text, V2PrinciplePatterns), m => trim(m))

  /** _assess_problem_difficulty (:461-481) — the concept-based difficulty
    * variant: +1 per equation with an advanced-math term, +1 per principle
    * with an advanced-physics term; >=3 advanced, >=1 intermediate.
    */
  private[graft] val AdvMathTerms = Seq("tensor", "∇", "∂", "∫", "eigenvalue")
  private[graft] val AdvPhysTerms = Seq("quantum field", "relativity", "symmetry")

  def conceptDifficulty(equations: Column, principles: Column): Column = {
    val advEq = size(filter(equations, e => containsAny(lower(e), AdvMathTerms)))
    val advPr = size(filter(principles, p => containsAny(lower(p), AdvPhysTerms)))
    val n = advEq + advPr
    when(n >= 3, "advanced").when(n >= 1, "intermediate").otherwise("introductory")
  }

  /** V2 builder: one row per generated problem.
    *
    * Input columns: urlCol, textCol, subjectCol, plus the scored-pipeline
    * columns `issues: array<string>`, `sophistication: double`,
    * `recommendation: string` (Pipeline.score emits all three). Output:
    * url, problem_id, type, difficulty, domain, difficulty_level,
    * problem_count, source, problem_statement.
    */
  def benchmarkItemsV2(scored: DataFrame, urlCol: String, textCol: String,
                       subjectCol: String): DataFrame = {
    val text = col(textCol)
    val url = col(urlCol)
    // concept batteries run fused (ConceptExtract.v2Col — identical values
    // to the v2* Column forms, parity-tested in BenchmarkBuildersSpec),
    // behind a ComputeOnce barrier (without it CollapseProject inlined the
    // battery into 56 copies per row)
    val fusedConcepts = ConceptExtract.v2Col(text)
    val base = graft.functions.ComputeOnce(
      scored.filter(suitableForBenchmarkV2(text)), "__cx", fusedConcepts)
      .withColumn("__eqs", col("__cx.equations"))
      .withColumn("__derivs", col("__cx.derivations"))
      .withColumn("__scens", col("__cx.scenarios"))
      .withColumn("__nums", col("__cx.numericals"))
      .withColumn("__prins", col("__cx.principles"))
      // `return None` when every concept list is empty (:148)
      .filter(size(col("__eqs")) + size(col("__derivs")) + size(col("__scens")) +
        size(col("__nums")) + size(col("__prins")) > 0)
      .withColumn("__domain", Gates.physicsDomain(col(subjectCol)))
      .withColumn("__difficulty_level",
        conceptDifficulty(col("__eqs"), col("__prins")))

    val eqs = col("__eqs"); val derivs = col("__derivs"); val scens = col("__scens")
    val nums = col("__nums"); val prins = col("__prins")
    val primaryEq = try_element_at(eqs, lit(1))
    val derivSteps = slice(derivs, 1, 3)

    // Problem 1 — mathematical_derivation_analysis (:178-226)
    val p1Stmt = concat(
      lit("Consider the physical system described by the following relationship:\n\n"),
      coalesce(primaryEq, lit("Mathematical relationship from the given context")),
      lit("\n\n"),
      when(size(derivSteps) > 0,
        concat(lit("The derivation proceeds through these steps:\n"),
          numbered(derivSteps), lit("\n"))).otherwise(lit("")),
      lit("Analyze this derivation and:\n1. Verify the mathematical consistency of each step\n2. Check the physical reasoning behind the approach\n3. Identify any assumptions or approximations made\n4. Determine if the final result is dimensionally correct\n5. Suggest alternative approaches if applicable\n\nProvide a complete analysis of the mathematical and physical reasoning."))
    val p1 = when(size(eqs) > 0 || size(derivs) > 0, struct(
      id10k("derivation_from_paper_", url,
        when(primaryEq.isNotNull, xxhash64(primaryEq)).otherwise(xxhash64(derivSteps)))
        .as("problem_id"),
      lit("mathematical_derivation_analysis").as("type"),
      lit("intermediate").as("difficulty"),
      coalesce(primaryEq, array_join(derivSteps, " | ")).as("source"),
      p1Stmt.as("problem_statement"))).otherwise(lit(null))

    // Problem 2 — physical_scenario_analysis (:228-277)
    val primaryScen = try_element_at(scens, lit(1))
    val relPrins = slice(prins, 1, 2)
    val p2Stmt = concat(
      lit("Consider the following physical scenario:\n\n"), primaryScen, lit("\n\n"),
      when(size(relPrins) > 0,
        concat(lit("This system involves the following physics principles:\n"),
          bullets(relPrins), lit("\n"))).otherwise(lit("")),
      lit("Analyze this physical system by addressing:\n\n1. **System Setup**: What are the key physical quantities and their relationships?\n2. **Governing Principles**: Which fundamental laws of physics apply to this system?\n3. **Mathematical Model**: How would you set up equations to describe this system?\n4. **Approximations**: What simplifying assumptions might be reasonable?\n5. **Predictions**: What physical behavior would you expect to observe?\n6. **Experimental Considerations**: How could this system be studied experimentally?\n\nProvide a comprehensive physics analysis of this scenario."))
    val p2 = when(size(scens) > 0, struct(
      id10k("scenario_analysis_", url, xxhash64(primaryScen)).as("problem_id"),
      lit("physical_scenario_analysis").as("type"),
      lit("intermediate").as("difficulty"),
      primaryScen.as("source"),
      p2Stmt.as("problem_statement"))).otherwise(lit(null))

    // Problem 3 — error_detection_analysis (:279-330); needs issues + eqs
    val keyIssues = slice(col("issues"), 1, 2)
    val p3Stmt = concat(
      lit("The following analysis presents a physical relationship and its derivation:\n\n**Key Equation**: "),
      primaryEq,
      lit("\n\n**Potential Issues Identified**:\n"),
      numbered(keyIssues),
      lit("\n**Assessment Context**: This work has been identified as having sophistication level "),
      format_string("%.2f", col("sophistication")),
      lit(" with recommendation: "), col("recommendation"),
      lit("\n\n**Your Task**:\n1. Analyze the equation and derivation for mathematical errors\n2. Check for physics principle violations\n3. Verify dimensional consistency\n4. Identify any logical inconsistencies\n5. Assess whether the identified issues are valid concerns\n6. Propose corrections where necessary\n\nFocus particularly on subtle errors that might not be immediately obvious but could invalidate the physics reasoning."))
    val p3 = when(size(col("issues")) > 0 && size(eqs) > 0, struct(
      id10k("error_detection_", url, xxhash64(keyIssues)).as("problem_id"),
      lit("error_detection_analysis").as("type"),
      lit("advanced").as("difficulty"),
      primaryEq.as("source"),
      p3Stmt.as("problem_statement"))).otherwise(lit(null))

    // Problem 4 — numerical_analysis (:332-383)
    val numData = slice(nums, 1, 3)
    val relEqs = slice(eqs, 1, 2)
    val p4Stmt = concat(
      lit("Using the numerical data and relationships from a "), col(subjectCol),
      lit(" analysis:\n\n**Given Data**:\n"), bullets(numData),
      when(size(relEqs) > 0,
        concat(lit("\n**Relevant Relationships**:\n"), bullets(relEqs)))
        .otherwise(lit("")),
      lit("\n**Calculation Tasks**:\n1. Verify that all given quantities have consistent units\n2. Calculate any derived quantities that can be determined from the given data\n3. Estimate the order of magnitude for key physical parameters\n4. Determine which quantities might be measurable experimentally\n5. Assess the physical reasonableness of the numerical values\n\n**Analysis Requirements**:\n- Show all unit conversions explicitly\n- Provide uncertainty estimates where appropriate\n- Explain the physical significance of calculated results\n- Compare values to typical scales in "),
      lower(col(subjectCol)))
    val p4 = when(size(nums) > 0, struct(
      id10k("numerical_analysis_", url, xxhash64(numData)).as("problem_id"),
      lit("numerical_analysis").as("type"),
      lit("intermediate").as("difficulty"),
      array_join(numData, " | ").as("source"),
      p4Stmt.as("problem_statement"))).otherwise(lit(null))

    base
      .withColumn("problems", filter(array(p1, p2, p3, p4), p => p.isNotNull))
      .filter(size(col("problems")) >= 1) // `if len(problems) < 1: return None`
      .withColumn("problem_count", size(col("problems")))
      .select(url.as("url"), col("__domain").as("domain"),
        col("__difficulty_level").as("difficulty_level"),
        col("problem_count"), explode(col("problems")).as("p"))
      .select(col("url"), col("p.problem_id").as("problem_id"),
        col("p.type").as("type"), col("p.difficulty").as("difficulty"),
        col("domain"), col("difficulty_level"), col("problem_count"),
        col("p.source").as("source"),
        col("p.problem_statement").as("problem_statement"))
  }

  // ====================================================================
  // V3 — ActualConceptBenchmarkBuilder (enhanced_analyzer_integration2.py)
  // ====================================================================

  /** _contains_physics_content v3 (:377-388): term presence ONLY (no math
    * fallback, 17 terms).
    */
  private[graft] val V3PhysicsTerms = Seq(
    "energy", "force", "field", "particle", "wave", "mass", "velocity",
    "momentum", "charge", "potential", "frequency", "wavelength",
    "temperature", "pressure", "current", "magnetic", "electric")

  private def containsPhysicsContentV3(c: Column): Column =
    containsAny(lower(c), V3PhysicsTerms)

  /** _is_physics_equation (:333-346): '=', len >= 5, physics var (incl
    * psi/phi), math op (incl sqrt).
    */
  private[graft] val V3PhysicsVars = Gates.PhysicsVars ++ Seq("ψ", "φ")
  private[graft] val V3MathOps = Gates.MathOps :+ "√"

  def isPhysicsEquationV3(eq: Column): Column =
    eq.contains("=") && (length(trim(eq)) >= 5) &&
      containsAny(eq, V3PhysicsVars) && containsAny(eq, V3MathOps)

  /** _clean_equation v3 (:374-378) — the C8 variant whose whitelist adds
    * the radical sign. Class shared with the q42 SQL oracle.
    */
  private[graft] val EqStripClassV3 = "[^\\w\\s=+\\-*/(){}\\\\.,∇∂∫√α-ωΑ-Ω]"

  def equationCleanV3(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, Clean.WsRun, " "), EqStripClassV3, ""))

  /** _is_suitable_for_benchmark v3 (:396-411): len >= 600 AND
    * (>= 1 'X =' match OR >= 3 of 7 terms in text[:1500]).
    */
  private[graft] val V3SuitTerms = Seq(
    "energy", "force", "field", "particle", "wave", "mass", "equation")

  private[graft] val V3SuitSample = new TermSample(1500, V3SuitTerms)

  def suitableForBenchmarkV3(text: Column): Column = {
    val hasEq = text.contains("=") && (size(hits(text, "[A-Za-z]\\s*=", 0)) >= 1)
    val cnt = V3SuitSample.count(V3SuitSample.mask(text), V3SuitTerms)
    (length(trim(text)) >= 600) && (hasEq || cnt >= 3)
  }

  private[graft] val V3EqPatterns = Seq(
    "(?i)([A-Za-z_]\\w*\\s*=\\s*[^,.\\n]{8,60})",
    "(?i)((?:E|F|V|p|m|v|a|g|H|L|T|P|ρ|σ|ω|λ|μ|ε)\\s*=\\s*[^,.\\n]{5,50})",
    "(?i)(\\\\frac\\{[^}]+\\}\\{[^}]+\\}(?:\\s*[=+\\-]\\s*[^.]{0,40})?)")

  private[graft] def v3Equations(text: Column): Column =
    filter(transform(hitsAll(text, V3EqPatterns), m => equationCleanV3(m)),
      e => (length(e) > 0) && isPhysicsEquationV3(e))

  /** Pairwise derivations (:98-110): (starting_point, result) structs from
    * two-group patterns, start > 15 chars and result > 10 chars.
    */
  private[graft] val V3DerivPatterns = Seq(
    "(?i)(?:Starting with|From|Given)\\s+([^.]*?)(?:we get|we obtain|this gives)\\s+([^.]*?)(?:\\.|\\n)",
    "(?i)(?:Using|Substituting)\\s+([^.]*?)(?:into|in)\\s+([^.]*?)(?:\\.|\\n)")

  private[graft] def v3Derivations(text: Column): Column =
    filter(
      concat(V3DerivPatterns.map { p =>
        zip_with(hits(text, p, 1), hits(text, p, 2), (a, b) =>
          struct(trim(a).as("starting_point"), trim(b).as("result")))
      }: _*),
      d => (length(d.getField("starting_point")) > 15) &&
        (length(d.getField("result")) > 10))

  private[graft] val V3NumPatterns = Seq(
    "(?i)([A-Za-z_]\\w*\\s*=\\s*[0-9]+\\.?[0-9]*(?:\\s*×\\s*10[⁻⁰-⁹]+)?\\s*(?:m|kg|s|Hz|eV|K|Pa|N|J|W|V|A|T|rad)?)",
    "(?i)((?:wavelength|frequency|energy|mass|velocity|temperature|pressure)\\s*(?:of|=|is)\\s*[0-9][^.\\n]*)")
  private[graft] val V3NumContexts = V2NumContexts ++ Seq("rad", "pressure")

  private[graft] def v3Numericals(text: Column): Column =
    filter(transform(hitsAll(text, V3NumPatterns), m => trim(m)),
      v => v.rlike("\\d") && containsAny(lower(v), V3NumContexts) &&
        (length(v) > 4))

  private[graft] val V3ScenarioPatterns = Seq(
    "(?i)(?:Consider|Suppose|Let)\\s+([^.]*?(?:particle|system|field|wave|oscillator)[^.]*?)(?:\\.|\\n)",
    "(?i)(?:We study|We consider|In this work)\\s+([^.]*?)(?:\\.|\\n)")

  private[graft] def v3Scenarios(text: Column): Column =
    filter(transform(hitsAll(text, V3ScenarioPatterns), m => trim(m)),
      s => (length(s) > 25) && containsPhysicsContentV3(s))

  /** _classify_domain v3 (:390-394) — fewer branches than the v2 one, no
    * optics bucket.
    */
  def physicsDomainV3(subject: Column): Column = {
    val lo = lower(subject)
    when(containsAny(lo, Seq("mechanics", "classical")), "mechanics")
      .when(containsAny(lo, Seq("electro", "magnetic", "field")), "electromagnetism")
      .when(containsAny(lo, Seq("quantum", "atomic")), "quantum")
      .when(containsAny(lo, Seq("thermo", "statistical")), "thermodynamics")
      .when(containsAny(lo, Seq("relativity", "gravity")), "relativity")
      .otherwise("general_physics")
  }

  /** V3 builder: one row per generated problem. Same input contract as
    * `benchmarkItemsV2`. P14 `has_content` gate per
    * enhanced_analyzer_integration2.py:137-139.
    */
  def benchmarkItemsV3(scored: DataFrame, urlCol: String, textCol: String,
                       subjectCol: String): DataFrame = {
    val text = col(textCol)
    val url = col(urlCol)
    val fusedConcepts = ConceptExtract.v3Col(text)
    val base = graft.functions.ComputeOnce(
      scored.filter(suitableForBenchmarkV3(text)), "__cx", fusedConcepts)
      .withColumn("__eqs", col("__cx.equations"))
      .withColumn("__derivs", col("__cx.derivations"))
      .withColumn("__nums", col("__cx.numericals"))
      .withColumn("__scens", col("__cx.scenarios"))
      .filter(Gates.hasContent(col("__eqs"), col("__derivs"), col("__nums")))
      .withColumn("__domain", physicsDomainV3(col(subjectCol)))

    val eqs = col("__eqs"); val derivs = col("__derivs")
    val nums = col("__nums"); val scens = col("__scens")
    val subjLo = lower(col(subjectCol))

    // Problem 1 — equation_analysis (:174-214)
    val primaryEq = try_element_at(eqs, lit(1))
    val additionalEqs = slice(eqs, 2, 2)
    val p1Stmt = concat(
      lit("Analyze the following physical relationship extracted from a "),
      subjLo, lit(" study:\n\n**Primary Equation**: "), primaryEq, lit("\n"),
      when(size(additionalEqs) > 0,
        concat(lit("\n**Related Equations**:\n"), bullets(additionalEqs)))
        .otherwise(lit("")),
      lit("\n**Analysis Tasks**:\n1. **Dimensional Analysis**: Verify that all terms have consistent dimensions\n2. **Physical Interpretation**: Explain the physical meaning of each variable\n3. **Domain of Validity**: Under what conditions does this relationship apply?\n4. **Mathematical Structure**: Identify the mathematical form (linear, quadratic, exponential, etc.)\n5. **Limiting Cases**: What happens in extreme limits of the variables?\n6. **Experimental Verification**: How could this relationship be tested experimentally?\n\nProvide a comprehensive physics analysis addressing each point."))
    val p1 = when(size(eqs) > 0, struct(
      id10k("equation_analysis_", url, xxhash64(primaryEq)).as("problem_id"),
      lit("equation_analysis").as("type"),
      lit("intermediate").as("difficulty"),
      array_join(slice(eqs, 1, 3), " | ").as("source"),
      p1Stmt.as("problem_statement"))).otherwise(lit(null))

    // Problem 2 — derivation_verification (:216-250)
    val d0 = try_element_at(derivs, lit(1))
    val p2Stmt = concat(
      lit("The following derivation sequence appears in a "), subjLo,
      lit(" analysis:\n\n**Starting Point**: "), d0.getField("starting_point"),
      lit("\n\n**Claimed Result**: "), d0.getField("result"),
      lit("\n\n**Verification Tasks**:\n1. **Mathematical Validity**: Is the mathematical transition correct?\n2. **Missing Steps**: What intermediate steps might be omitted?\n3. **Physical Assumptions**: What physics assumptions are made?\n4. **Alternative Approaches**: Can you derive the same result differently?\n5. **Error Analysis**: If there are errors, identify and correct them\n6. **Generalization**: Under what broader conditions does this derivation hold?\n\nShow all mathematical steps clearly and justify each physics assumption."))
    val p2 = when(size(derivs) > 0, struct(
      id10k("derivation_check_", url, xxhash64(d0)).as("problem_id"),
      lit("derivation_verification").as("type"),
      lit("advanced").as("difficulty"),
      concat(d0.getField("starting_point"), lit(" -> "), d0.getField("result"))
        .as("source"),
      p2Stmt.as("problem_statement"))).otherwise(lit(null))

    // Problem 3 — numerical_analysis (:252-289)
    val numData = slice(nums, 1, 3)
    val p3Stmt = concat(
      lit("The following numerical values appear in a "), subjLo,
      lit(" study:\n\n**Given Data**:\n"), bullets(numData),
      lit("\n**Calculation Tasks**:\n1. **Unit Verification**: Check that all units are consistent and correctly specified\n2. **Order of Magnitude**: Verify these values are reasonable for "), subjLo,
      lit("\n3. **Derived Quantities**: Calculate related physical quantities from this data\n4. **Uncertainty Analysis**: Estimate reasonable uncertainty bounds\n5. **Comparison**: How do these values compare to standard reference values?\n6. **Implications**: What do these numerical results tell us about the physical system?\n\nShow all calculations with proper unit handling and uncertainty propagation."))
    val p3 = when(size(nums) > 0, struct(
      id10k("numerical_analysis_", url, xxhash64(numData)).as("problem_id"),
      lit("numerical_analysis").as("type"),
      lit("intermediate").as("difficulty"),
      array_join(numData, " | ").as("source"),
      p3Stmt.as("problem_statement"))).otherwise(lit(null))

    // Problem 4 — scenario_analysis (:291-331); difficulty advanced iff
    // the assessment carried issues; critical-evaluation block likewise
    val scen = try_element_at(scens, lit(1))
    val hasIssues = size(col("issues")) > 0
    val p4Stmt = concat(
      lit("Consider the physical scenario described in a "), subjLo,
      lit(" study:\n\n**Scenario**: "), scen,
      lit("\n\n**Physics Analysis Tasks**:\n1. **System Identification**: What is the physical system being described?\n2. **Relevant Physics**: Which fundamental principles govern this system?\n3. **Mathematical Model**: How would you model this system mathematically?\n4. **Key Variables**: What are the important physical quantities?\n5. **Experimental Setup**: How could this scenario be realized experimentally?\n6. **Predictions**: What measurable effects would you expect?\n7. **Limitations**: What are the boundaries of this description?\n\n"),
      when(hasIssues, concat(
        lit("**Critical Evaluation**: This work has been identified with potential issues including: "),
        array_join(slice(col("issues"), 1, 2), ", "),
        lit(".\nEvaluate whether these concerns affect the validity of the scenario description.\n\n")))
        .otherwise(lit("")),
      lit("Provide a comprehensive physics analysis that demonstrates deep understanding of the underlying principles."))
    val p4 = when(size(scens) > 0, struct(
      id10k("scenario_analysis_", url, xxhash64(scen)).as("problem_id"),
      lit("scenario_analysis").as("type"),
      when(hasIssues, "advanced").otherwise("intermediate").as("difficulty"),
      scen.as("source"),
      p4Stmt.as("problem_statement"))).otherwise(lit(null))

    base
      .withColumn("problems", filter(array(p1, p2, p3, p4), p => p.isNotNull))
      .filter(size(col("problems")) >= 1)
      .withColumn("problem_count", size(col("problems")))
      .select(url.as("url"), col("__domain").as("domain"), col("problem_count"),
        explode(col("problems")).as("p"))
      .select(col("url"), col("p.problem_id").as("problem_id"),
        col("p.type").as("type"), col("p.difficulty").as("difficulty"),
        col("domain"), col("problem_count"), col("p.source").as("source"),
        col("p.problem_statement").as("problem_statement"))
  }
}
