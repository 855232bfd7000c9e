package graft.derive

import DeriveHelpers._

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.rules.Heuristics.TermSample

/** The remaining predicate / cleaning / scalar operators from SURVEY.md §2
  * not covered by Extract: P9/P14, C7/C9, E14/E19, and P10's unit list.
  * Pure Catalyst throughout.
  */
object Gates {

  // ------------------------------------------------------------------
  // P9 — meaningful-equation predicate
  // (enhanced_benchmark_builder.py:385-402): '=' present, a physics
  // variable symbol, a math operator, length > 8.
  // ------------------------------------------------------------------
  val PhysicsVars: Seq[String] = Seq(
    "E", "F", "V", "p", "m", "v", "a", "g", "H", "L", "T", "P",
    "ρ", "σ", "ω", "λ", "μ", "ε")
  val MathOps: Seq[String] = Seq("+", "-", "*", "/", "^", "∇", "∂", "∫")

  def isMeaningfulEquation(eq: Column): Column =
    eq.contains("=") &&
      containsAny(eq, PhysicsVars) &&
      containsAny(eq, MathOps) &&
      (length(trim(eq)) > 8)

  // ------------------------------------------------------------------
  // P10 — physics unit / context words of the meaningful-numerical
  // predicate (enhanced_benchmark_builder.py:422-440); the v2 numerical
  // battery (BenchmarkBuilders.v2Numericals) applies it.
  // ------------------------------------------------------------------
  val PhysicsUnits: Seq[String] = Seq(
    "m", "kg", "s", "hz", "ev", "k", "pa", "n", "j", "w", "v", "a", "t",
    "wavelength", "frequency", "energy", "mass", "velocity", "temperature")

  // ------------------------------------------------------------------
  // P14 — has_content (enhanced_analyzer_integration2.py:137-139):
  // any of equations/derivations/numericals non-empty.
  // ------------------------------------------------------------------
  def hasContent(equations: Column, derivations: Column, numericals: Column): Column =
    (size(equations) > 0) || (size(derivations) > 0) || (size(numericals) > 0)

  // ------------------------------------------------------------------
  // C7 — derivation clean (enhanced_paper_analyser.py:1168-1193) using the
  // meaningful-sentence predicate (:1223-1238).
  // ------------------------------------------------------------------
  val MeaningfulSentenceWords: Seq[String] = Seq(
    "equation", "energy", "force", "calculate", "derive", "solve",
    "therefore", "using", "given", "find", "determine")

  def isMeaningfulSentence(s: Column): Column = {
    val words = when(length(trim(s)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(s), "(?U)\\s+"))
    (length(s) >= 15) && (size(words) >= 3) &&
      containsAny(lower(s), MeaningfulSentenceWords)
  }

  def derivationClean(c: Column): Column = {
    var s = regexp_replace(c, "[^\\x00-\\x7F]+", "")
    s = regexp_replace(s, "(?U)\\s+", " ")
    s = regexp_replace(s, "\\.{3,}", "...")
    s = regexp_replace(s, "(?<=[a-z])(?=[A-Z])", " ")
    s = regexp_replace(s, "\\[\\d+\\]", "")
    s = regexp_replace(s, "Page\\s+\\d+", "")
    s = regexp_replace(s, "Fig\\.\\s*\\d+", "")
    s = regexp_replace(s, "Eq\\.\\s*\\(\\d+\\)", "")
    val sentences = filter(
      transform(split(s, "\\."), x => trim(x)),
      x => (length(x) > 10) && isMeaningfulSentence(x))
    when(size(sentences) > 0, concat(array_join(sentences, ". "), lit(".")))
      .otherwise(lit(""))
  }

  // ------------------------------------------------------------------
  // C9 — clean + validate (enhanced_training_builder.py:161-193):
  // charset whitelist; ws collapse; NULL if < 15 chars, or no physics term
  // AND no math char, or < 2 English stopwords.
  // ------------------------------------------------------------------
  private[graft] val C9PhysicsTerms = Seq(
    "energy", "force", "mass", "velocity", "field", "charge", "potential",
    "particle", "wave", "frequency", "momentum", "acceleration")
  private[graft] val C9English = Seq(
    "the", "and", "of", "to", "a", "in", "we", "is", "this", "that")

  private[graft] val C9Sample = new TermSample(Int.MaxValue, C9English, C9PhysicsTerms)

  def cleanAndValidate(c: Column): Column =
    // Let-bound: the clean chain and its term mask are each referenced
    // several times — without the binding each reference re-runs both
    // regex replaces (graft.functions.Let scaladoc; measured 50+ s on the
    // RL battery) or the scan
    graft.functions.Let(trim(regexp_replace(
      regexp_replace(c, "[^\\w\\s\\.,;:()=+\\-*/\\[\\]{}\\\\α-ωΑ-Ω]", ""),
      "(?U)\\s+", " "))) { cleaned =>
      graft.functions.Let(C9Sample.mask(cleaned)) { m =>
        when(c.isNull, lit(null).cast("string"))
          .when(length(cleaned) < 15, lit(null).cast("string"))
          .when(C9Sample.count(m, C9PhysicsTerms) === 0 &&
            !containsAny(cleaned, Extract.MathChars), lit(null).cast("string"))
          .when(C9Sample.count(m, C9English) < 2, lit(null).cast("string"))
          .otherwise(cleaned)
      }
    }

  // ------------------------------------------------------------------
  // E14 — advanced problem/solution split
  // (enhanced_paper_analyser.py:619-639): first separator match wins, split
  // at match END; fallback = midpoint.
  // ------------------------------------------------------------------
  val SeparatorPatterns: Seq[String] = Seq(
    "(?is)(?:Solution|Answer)\\s*:",
    "(?is)(?:Given|Find|Calculate|Determine).*?(?:Solution|Answer)",
    "(?is)(?:Problem)\\s*:.*?(?:Solution|Answer)\\s*:")

  /** (problem, solution) struct via the reference's first-separator-end
    * rule: regexp_instr locates the first match (1-based), the matched text
    * supplies its length; midpoint fallback when nothing matches.
    */
  def problemSolutionParts(c: Column): Column = {
    val candidates = SeparatorPatterns.map { p =>
      val m = regexp_extract(c, p, 0)
      val pos = call_function("regexp_instr", c, lit(p))
      when(length(m) > 0, (pos + length(m) - 1).cast("int"))
        .otherwise(lit(null).cast("int"))
    }
    val splitEnd = coalesce(candidates :+ (length(c) / 2).cast("int"): _*)
    struct(
      trim(substring(c, lit(1), splitEnd)).as("problem"),
      trim(substring(c, splitEnd + 1, length(c))).as("solution"))
  }

  // ------------------------------------------------------------------
  // E19 — physics-domain classifier from subject
  // (enhanced_benchmark_builder.py:442-459).
  // ------------------------------------------------------------------
  def physicsDomain(subject: Column): Column = {
    val lo = lower(subject)
    when(containsAny(lo, Seq("classical mechanics", "mechanics")), "mechanics")
      .when(containsAny(lo, Seq("electro", "magnetic", "field")), "electromagnetism")
      .when(containsAny(lo, Seq("quantum", "atomic", "molecular")), "quantum")
      .when(containsAny(lo, Seq("thermo", "statistical", "kinetic")), "thermodynamics")
      .when(containsAny(lo, Seq("relativity", "gravity", "cosmol")), "relativity")
      .when(containsAny(lo, Seq("optics", "photon", "light")), "optics")
      .otherwise("general_physics")
  }
}
