package graft.rules

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Heuristic quality rules and text statistics (SURVEY.md §2.2, §2.4).
  *
  * Everything here is a pure Catalyst expression — no UDFs — so the whole
  * stats block compiles into one whole-stage-codegen span over the scan.
  * Each Column function has a plain-Scala mirror (suffix `Str`) used by the
  * row-at-a-time reference oracle in tests.
  */
object Heuristics {

  import graft.extract.Clean
  import graft.extract.Clean.WsRun

  // ------------------------------------------------------------------
  // E2 — word_count / char_count (reference: analysis/pdf_processor.py:77,84)
  // Python str.split() semantics: split on unicode-whitespace runs,
  // leading/trailing ignored, empty string -> 0 tokens.
  //
  // Canonical tokenizer: split on (?U)\s+ and DROP empty tokens. A
  // trim-then-split form miscounts leading non-' ' whitespace (Spark `trim`
  // strips only ' ', Java String.trim strips <= 0x20 but not NBSP/U+0085) —
  // round-1 advice; the filter makes Column form, Str mirror and the fused
  // TokenStats scanner agree on every input, not just cleaned text.
  // ------------------------------------------------------------------
  def tokens(c: Column): Column = filter(split(c, WsRun), w => length(w) > 0)

  def wordCount(c: Column): Column =
    when(c.isNull, lit(0L)).otherwise(size(tokens(c)).cast("long"))

  def wordCountStr(t: String): Long =
    if (t == null) 0L else t.split(WsRun).count(_.nonEmpty).toLong

  def charCount(c: Column): Column = length(c).cast("long")

  // ------------------------------------------------------------------
  // E3 — math-expression count: sum of findall sizes over the 3 basic
  // patterns (pdf_processor.py:79-80): \$[^$]+\$  \\[a-zA-Z]+  [0-9]+\.[0-9]+
  // ------------------------------------------------------------------
  val MathPatterns: Seq[String] =
    Seq("\\$[^$]+\\$", "\\\\[a-zA-Z]+", "[0-9]+\\.[0-9]+")

  def patternCount(c: Column, pattern: String): Column =
    when(c.isNull, lit(0L))
      .otherwise(size(regexp_extract_all(c, lit(pattern), lit(0))).cast("long"))

  def mathExpressionCount(c: Column): Column =
    MathPatterns.map(patternCount(c, _)).reduce(_ + _)

  def patternCountStr(t: String, pattern: String): Long =
    if (t == null) 0L else pattern.r.findAllMatchIn(t).length.toLong

  def mathExpressionCountStr(t: String): Long =
    MathPatterns.map(patternCountStr(t, _)).sum

  // ------------------------------------------------------------------
  // E4 — reference count (pdf_processor.py:81): \[\d+\]|\(\d{4}\)
  // ------------------------------------------------------------------
  val RefPatternBasic = "\\[\\d+\\]|\\(\\d{4}\\)"

  def referenceCount(c: Column): Column = patternCount(c, RefPatternBasic)

  def referenceCountStr(t: String): Long = patternCountStr(t, RefPatternBasic)

  // ------------------------------------------------------------------
  // E5 — avg sentence length (pdf_processor.py:88):
  //   len(words) / max(text.count('.'), 1)
  // Dot count without a second split: length delta trick (codegen-friendly).
  // ------------------------------------------------------------------
  def dotCount(c: Column): Column =
    (length(c) - length(regexp_replace(c, "\\.", ""))).cast("long")

  def avgSentenceLength(c: Column): Column =
    wordCount(c).cast("double") / greatest(dotCount(c), lit(1L)).cast("double")

  // ------------------------------------------------------------------
  // E6 — keyword occurrence counts. Reference counts OCCURRENCES of exact
  // lowercased whitespace-tokens that are members of the term list
  // (pdf_processor.py:208-211: `sum(1 for word in words if word.lower() in
  // physics_terms)`). array_intersect would dedup — use filter+size.
  // ------------------------------------------------------------------
  val PhysicsTerms: Seq[String] = Seq(
    "energy", "force", "field", "particle", "wave", "quantum",
    "relativity", "momentum", "mass", "velocity", "acceleration",
    "electromagnetic", "gravitational", "thermodynamic", "statistical")

  val MathTerms: Seq[String] = Seq(
    "equation", "formula", "derivative", "integral", "differential",
    "matrix", "vector", "tensor", "calculation", "proof", "theorem")

  def tokenMembershipCount(c: Column, terms: Seq[String]): Column =
    when(c.isNull, lit(0L)).otherwise(
      size(filter(tokens(c),
        w => array_contains(lit(terms.toArray), lower(w)))).cast("long"))

  def tokenMembershipCountStr(t: String, terms: Seq[String]): Long = {
    if (t == null) return 0L
    val set = terms.toSet
    t.split(WsRun).count(w => w.nonEmpty && set.contains(Clean.sparkLower(w))).toLong
  }

  // ------------------------------------------------------------------
  // Term presence, the count behind every cheap gate, difficulty/topic
  // classifier and builder anchor guard (enhanced_paper_analyser.py:152-172,
  // :716-724, :968-1019): `sum(1 for w in terms if w in text.lower()[:n])`.
  // ------------------------------------------------------------------
  /** `lower(text[:n])`, n counted in code points (Spark `substring`). */
  def lowerPrefixStr(text: String, n: Int): String =
    if (text == null) null else Clean.sparkLower(Clean.sparkSubstr(text, n))

  /** How many of `terms` occur in `c`, each counted 0/1 (0 on null). */
  def termCountStr(c: String, terms: Seq[String]): Int =
    if (c == null) 0 else terms.count(c.contains)

  /** The term lists a gate counts over one sample, `lower(text[:n])`;
    * `n = Int.MaxValue` samples the whole text. `mask(text)` is one
    * native scan per row (`graft.functions.TermMask`, never a lowered
    * copy): a Long whose bits are the distinct terms of every list that
    * occur in the sample. `count(mask, list)` reads a list's count off
    * that mask as popcounts, so all of a gate's lists share the scan, and
    * `count(mask, group) > 0` is an any-of test. Subexpression
    * elimination shares one mask among the uses in a projection when two
    * of them are read unconditionally (a CASE's first condition, both
    * sides of `||`; see `RlBuilder.rlDifficulty`); a filter
    * re-evaluates it per conjunct, so filters over several counts go
    * through [[filter]], and a lambda that reads the mask more than once
    * binds it with `graft.functions.Let`. TermMaskSpec holds the counts
    * equal to Spark's own `lower`/`substring`/`contains` and to
    * `termCountStr`.
    */
  final class TermSample(val n: Int, val lists: Seq[String]*) {
    private val scanner = graft.functions.TermScanner(lists.flatten.distinct)

    def mask(text: Column): Column =
      graft.functions.Native.nullAware(graft.functions.TermMask, "scan",
        org.apache.spark.sql.types.LongType, nullable = false,
        text, lit(n), graft.functions.Native.obj(scanner))

    /** How many entries of `list` occur in the sample (int; 0 on null
      * text). An entry listed k times counts k times, as in `termCountStr`:
      * layer j holds the terms listed more than j times.
      */
    def count(mask: Column, list: Seq[String]): Column = {
      val times = list.groupBy(identity).view.mapValues(_.size).toMap
      require(times.keys.forall(scanner.terms.contains), s"terms outside the sample: $list")
      (1 to times.values.max).map { j =>
        val bits = times.collect { case (t, k) if k >= j => 1L << scanner.terms.indexOf(t) }
        bit_count(mask.bitwiseAND(lit(bits.reduce(_ | _))))
      }.reduce(_ + _)
    }

    /** `df.filter(gate(mask(text)))` with the mask computed once per row:
      * it goes behind a ComputeOnce barrier, which the filter cannot be
      * pushed through.
      */
    def filter(df: DataFrame, text: Column)(gate: Column => Column): DataFrame = {
      val name = s"__terms$n"
      graft.functions.ComputeOnce(df, name, mask(text)).filter(gate(col(name))).drop(name)
    }
  }

  // ------------------------------------------------------------------
  // E7/E8 — physics density + content flags (pdf_processor.py:236-249)
  // density = (physics+math)/max(words,1)*100
  // ------------------------------------------------------------------
  def physicsDensity(physics: Column, math0: Column, words: Column): Column =
    (physics + math0).cast("double") / greatest(words, lit(1L)).cast("double") * 100.0

  def physicsDensityStr(physics: Long, math0: Long, words: Long): Double =
    (physics + math0).toDouble / math.max(words, 1L) * 100.0

  // Enhanced equation battery (pdf_processor.py:214-223)
  val EquationPatterns: Seq[String] = Seq(
    "\\$[^$]+\\$",
    "\\$\\$[^$]+\\$\\$",
    "[A-Za-z]\\s*=\\s*[^,.\\n]{3,}",
    "\\\\frac\\{[^}]+\\}\\{[^}]+\\}",
    "\\\\int\\s*.*?dx",
    "\\\\sum\\s*.*?")

  def equationCount(c: Column): Column =
    EquationPatterns.map(patternCount(c, _)).reduce(_ + _)

  def equationCountStr(t: String): Long =
    EquationPatterns.map(patternCountStr(t, _)).sum

  // ------------------------------------------------------------------
  // The per-document text-statistics struct in one withColumn
  // (SURVEY.md §1.3).
  // ------------------------------------------------------------------
  def textStats(c: Column): Column = {
    val wc = wordCount(c)
    val pt = tokenMembershipCount(c, PhysicsTerms)
    val mt = tokenMembershipCount(c, MathTerms)
    val eq = equationCount(c)
    val dens = physicsDensity(pt, mt, wc)
    struct(
      wc.as("word_count"),
      charCount(c).as("char_count"),
      mathExpressionCount(c).as("math_expressions"),
      referenceCount(c).as("reference_count"),
      avgSentenceLength(c).as("avg_sentence_length"),
      pt.as("physics_terms"),
      mt.as("math_terms"),
      dens.as("physics_density"),
      eq.as("equation_count"),
      (dens > 2.0).as("has_substantial_physics"),
      (eq > 5L).as("has_mathematical_content")
    )
  }

  /** textStats assembled from the fused single-pass TokenStats expression
    * (`ts` = graft_token_stats(text)): identical fields/values to
    * `textStats(c)` with the tokenize-and-count work done once
    * (see graft.rules.TokenStats; parity property-tested).
    */
  def textStatsFused(c: Column, ts: Column, pc: Column): Column = {
    val wc = ts.getField("word_count")
    val pt = ts.getField("physics_terms")
    val mt = ts.getField("math_terms")
    val dots = ts.getField("dot_count")
    val eq = pc.getField("equation_count")
    val dens = physicsDensity(pt, mt, wc)
    struct(
      wc.as("word_count"),
      charCount(c).as("char_count"),
      pc.getField("math_expressions").as("math_expressions"),
      pc.getField("reference_count").as("reference_count"),
      (wc.cast("double") / greatest(dots, lit(1L)).cast("double"))
        .as("avg_sentence_length"),
      pt.as("physics_terms"),
      mt.as("math_terms"),
      dens.as("physics_density"),
      eq.as("equation_count"),
      (dens > 2.0).as("has_substantial_physics"),
      (eq > 5L).as("has_mathematical_content")
    )
  }

  // ------------------------------------------------------------------
  // P5 — min-content-length gates (enhanced_paper_analyser.py:148 etc.)
  // Python len(text.strip()) >= k
  // ------------------------------------------------------------------
  def minLength(c: Column, k: Int): Column = length(trim(c)) >= k

  // ------------------------------------------------------------------
  // P6 — domain-term indicators (enhanced_paper_analyser.py:163-172),
  // counted over `lower(text[:1000])` in Pipeline.eligible.
  // ------------------------------------------------------------------
  val PhysicsIndicators: Seq[String] = Seq(
    "equation", "theory", "model", "physics", "energy", "force", "field",
    "quantum", "relativity")
  val VixraIndicators: Seq[String] = Seq(
    "gravity", "gravitational", "universe", "cosmic", "space", "time",
    "mass", "particle")

  /** `Pipeline.eligible`'s 1,000-code-point sample: the English stopwords
    * (`LangId.englishStopwordCount`) and both indicator lists, one scan.
    */
  val EligibilitySample = new TermSample(1000,
    graft.lang.LangId.EnglishStopwords10, PhysicsIndicators, VixraIndicators)

  // ------------------------------------------------------------------
  // Gopher/C4-style web-text rules (north_rule additions; SURVEY.md P4-P6
  // family generalized to web text).
  // ------------------------------------------------------------------

  /** Fraction of characters that are non-alphanumeric, non-space symbols. */
  def symbolRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0)).otherwise(
      length(regexp_replace(c, "[\\p{Alnum}\\s]", "")).cast("double") /
        length(c).cast("double"))

  /** Stopword ratio: stopword tokens / all tokens (Gopher rule: >= ~0.06
    * of common-word mass for natural English).
    */
  def stopwordRatio(c: Column): Column =
    stopwordRatioOf(tokensOrEmpty(c, lowered = false))

  // ---- Gopher signal building blocks of the individual Column
  // functions below — the reference GopherSpec holds the native
  // gopherStats to, field for field.

  /** Non-empty space-trimmed lines. */
  private def nonEmptyLines(c: Column): Column =
    filter(transform(split(c, "\n"), l => trim(l)), l => length(l) > 0)

  /** Null-guarded whitespace tokens (optionally lowercased). */
  private def tokensOrEmpty(c: Column, lowered: Boolean): Column =
    when(c.isNull, array().cast("array<string>"))
      .otherwise(tokens(if (lowered) lower(c) else c))

  /** Word n-grams over a token array. */
  private def wordNgrams(toks: Column, n: Int): Column = {
    val cnt = size(toks) - (n - 1)
    when(cnt <= 0, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), cnt - 1),
        i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
  }

  /** 1 - distinct/total over an array; 0.0 when empty. */
  private def dupFraction(arr: Column): Column =
    when(size(arr) === 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(arr)).cast("double") / size(arr).cast("double"))

  private def meanWordLenOf(toks: Column): Column =
    when(size(toks) === 0, lit(0.0)).otherwise(
      aggregate(toks, lit(0L), (acc, w) => acc + length(w)).cast("double") /
        size(toks).cast("double"))

  private def stopwordRatioOf(toks: Column): Column =
    when(size(toks) === 0, lit(0.0)).otherwise(
      size(filter(toks, w => array_contains(
        lit(graft.lang.LangId.EnglishStopwords10.toArray), lower(w))))
        .cast("double") / size(toks).cast("double"))

  /** Duplicate-line fraction: 1 - distinct_lines/lines (repetition signal). */
  def dupLineFraction(c: Column): Column = dupFraction(nonEmptyLines(c))

  /** Duplicate word-n-gram fraction over whitespace tokens (Gopher
    * repetition rule). Pure higher-order expressions: build n-grams with
    * transform over index sequence, compare distinct vs total. The
    * lowered tokens are Let-bound: wordNgrams reads them inside its
    * transform lambda, where an unbound tokenizer re-runs at every
    * n-gram position (quadratic in the row's token count).
    */
  def dupNgramFraction(c: Column, n: Int): Column =
    graft.functions.Let(tokensOrEmpty(c, lowered = true)) { toks =>
      dupFraction(wordNgrams(toks, n))
    }

  /** Mean word length (Gopher: keep 3..10). */
  def meanWordLength(c: Column): Column =
    meanWordLenOf(tokensOrEmpty(c, lowered = false))

  /** Composite C4/Gopher keep rule for web text (graft addition — the
    * pipeline's pre-filter ahead of model scoring; cheap-first ordering per
    * SURVEY.md §4.1).
    */
  def gopherKeep(c: Column): Column =
    minLength(c, 50) &&
      wordCount(c).between(10, 200000) &&
      meanWordLength(c).between(2.0, 12.0) &&
      symbolRatio(c) < 0.30 &&
      dupLineFraction(c) < 0.50 &&
      dupNgramFraction(c, 3) < 0.80

  /** All Gopher signals + the keep rule in ONE pass per row — a native
    * call of the single-scan `GopherStats.computeRow` (round 6; ~0.23 ms/doc of interpreted
    * HOF lambda evaluation removed from the q51/q52/q53 paths). Field
    * values equal the individual functions UP TO `round(_, 6)` — the
    * ratio fields are rounded for oracle hash stability, the standalone
    * Columns are not (GopherSpec proves field-for-field equality against
    * the Column functions above, for n = 2 and 3, on null, edge, fuzz
    * and SynthCorpus text; `gopher_keep` compares the UNROUNDED values,
    * so the keep bit is exactly `gopherKeep`). Consume behind a
    * ComputeOnce barrier so the struct is computed once, not per field
    * reference. Never null:
    * null text maps to the Column form's field-level three-valued-logic
    * image.
    */
  def gopherStats(c: Column, n: Int = 3): Column = {
    require(n > 0, s"n must be positive, got $n")
    graft.functions.Native.nullAware(GopherStats, "computeRow",
      GopherStats.outSchema(n), nullable = false, c, lit(n))
  }
}
