package graft.derive

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.extract.Clean
import graft.lang.LangId
import graft.rules.Heuristics

/** The two derived datasets (SURVEY.md §2 S7/S8, §3.2):
  *   - reasoning-benchmark items (enhanced_paper_analyser.py:40-140)
  *   - chain-of-thought training examples (:669-864)
  *
  * The reference accumulates these in driver lists one paper at a time; here
  * each is one Dataset plan: gate → per-row extraction batteries (arrays) →
  * `explode` (the built-in Generator — SURVEY.md §2.7 rollup) → per-example
  * projections. No shuffles except the sink's own partitioning.
  */
object Derive {

  // ------------------------------------------------------------------
  // Training examples (TrainingDataBuilder, enhanced_paper_analyser.py)
  // ------------------------------------------------------------------

  /** _is_suitable_for_training (enhanced_paper_analyser.py:710-737):
    * len >= 500; 14-word English count over text[:2000] >= 5 (vixra) / 8;
    * step+physics indicator count >= 2 (vixra) / 3.
    */
  val TrainingStepIndicators: Seq[String] = Seq("step", "first", "second",
    "next", "then", "therefore", "thus", "hence", "derivation", "proof",
    "solution")
  val TrainingPhysIndicators: Seq[String] = Seq("calculate", "derive",
    "obtain", "find", "result", "using", "apply", "given", "assume",
    "consider")

  /** The training gate's 2,000-code-point sample: 35 terms, one scan. */
  private[graft] val TrainingSample = new Heuristics.TermSample(2000,
    LangId.EnglishStopwords14, TrainingStepIndicators, TrainingPhysIndicators)

  def suitableForTraining(text: Column, url: Column): Column =
    trainingGate(text, url, TrainingSample.mask(text))

  /** `suitableForTraining` over `TrainingSample`'s mask. */
  private[graft] def trainingGate(text: Column, url: Column, mask: Column): Column = {
    val isVixra = lower(url).contains("vixra")
    val enCount = TrainingSample.count(mask, LangId.EnglishStopwords14)
    val indicatorCount =
      TrainingSample.count(mask, TrainingStepIndicators ++ TrainingPhysIndicators)
    (length(trim(text)) >= 500) &&
      (enCount >= when(isVixra, 5).otherwise(8)) &&
      (indicatorCount >= when(isVixra, 2).otherwise(3))
  }

  /** Extract training examples: one row per (doc, block).
    *
    * Input: any DataFrame with (urlCol, textCol, subjectCol). Output columns:
    * id, url, example_type, problem_statement, solution_steps, step_count,
    * difficulty, topic, reasoning_type, prerequisites, concepts, raw_text,
    * quality_score, prompt/completion (RL format).
    */
  def trainingExamples(df: DataFrame, urlCol: String, textCol: String,
                       subjectCol: String): DataFrame = {
    val text = col(textCol)
    val blockStruct: (Column, String) => Column = (arr, typ) =>
      transform(arr, b => struct(lit(typ).as("example_type"), b.as("block")))

    // E13 batteries run fused (BlockExtract — identical matches to the
    // Extract.* Column forms, ~100x less per-row interpreter overhead),
    // behind a ComputeOnce barrier so the battery runs once per row, not
    // once per field reference (CollapseProject would inline it 7x)
    val fusedBlocks = BlockExtract.blocksCol(text)
    val gated = TrainingSample.filter(df, text)(trainingGate(text, col(urlCol), _))
    val withBlocks = graft.functions.ComputeOnce(gated, "__bx", fusedBlocks)
      .withColumn("blocks", concat(
        // loop caps per enhanced_paper_analyser.py:692-705 — the find-level
        // caps are 7/7/3 (BlockExtract), the processing loop then takes
        // derivations[:3], solutions[:3], proofs[:2]
        blockStruct(slice(col("__bx.derivations"), 1, 3), "derivation"),
        blockStruct(slice(col("__bx.solutions"), 1, 3), "solution"),
        blockStruct(slice(col("__bx.proofs"), 1, 2), "proof")))
      .drop("__bx")
      .filter(size(col("blocks")) > 0)
      .select(col(urlCol).as("url"), col(subjectCol).as("subject"),
        explode(col("blocks")).as("b"))
      .select(col("url"), col("subject"),
        col("b.example_type").as("example_type"), col("b.block").as("block"))

    // _create_training_example (enhanced_paper_analyser.py:820-860).
    // Steps run as the fused StepExtract kernel (identical values to
    // Extract.reasoningStepsAnalyser — DeriveSpec parity test). Both the
    // cleaned text (a 5-regex chain consumed ~8 times downstream) and the
    // steps array go behind ComputeOnce barriers.
    val fusedSteps = StepExtract.stepsCol(col("cleaned"))
    val withSteps = graft.functions.ComputeOnce(
      graft.functions.ComputeOnce(withBlocks, "cleaned",
        Clean.trainingClean(col("block")))
        .filter(length(col("cleaned")) >= 50),
      "steps", fusedSteps)
      .filter(size(col("steps")) >= 2)

    val solSteps = Extract.solutionSteps(col("steps"))
    val problem = Extract.problemStatement(col("steps"))
    withSteps
      .withColumn("problem_statement", problem)
      .withColumn("solution_steps", solSteps)
      .withColumn("step_count", size(col("solution_steps")))
      .withColumn("difficulty", Extract.difficulty(col("cleaned")))
      .withColumn("topic", Extract.topic(col("cleaned"), col("subject")))
      .withColumn("reasoning_type", Extract.reasoningType(col("cleaned")))
      .withColumn("prerequisites", Extract.prerequisites(col("cleaned")))
      .withColumn("concepts", Extract.concepts(col("cleaned")))
      .withColumn("raw_text", Clean.limitRawText(col("cleaned")))
      .withColumn("quality_score",
        round(Extract.assessQuality(col("problem_statement"), col("solution_steps")), 6))
      // E23 stable id: xxhash64 replaces Python's salted hash() (SURVEY §7.4)
      .withColumn("id", concat_ws("_", col("url"), col("example_type"),
        pmod(xxhash64(col("cleaned")), lit(10000))))
      // E16 + E25: RL-style prompt/completion
      .withColumn("final_answer", Extract.finalAnswer(col("cleaned")))
      .withColumn("prompt", col("problem_statement"))
      .withColumn("completion",
        Extract.rlCompletion(col("solution_steps"), col("quality_score"),
          col("final_answer")))
      .drop("block", "cleaned", "steps")
  }

  /** P11 quality-standards gate (enhanced_training_builder.py:449-467):
    * quality > 0.4 AND steps >= 2 AND prompt > 25 AND completion > 100.
    */
  def meetsQualityStandards(quality: Column, stepCount: Column,
                            prompt: Column, completion: Column): Column =
    quality > 0.4 && stepCount >= 2 && length(prompt) > 25 && length(completion) > 100

  // ------------------------------------------------------------------
  // Benchmark items (BenchmarkBuilder, enhanced_paper_analyser.py:40-140)
  // ------------------------------------------------------------------

  /** Benchmark items from scored docs. Expects the Pipeline.score output
    * columns (url, text, sophistication, avg_stage2, recommendation,
    * overall_score) plus a subject column. Eligibility gate P12 (issues or
    * score >= 0.3, enhanced_paper_analyser.py:1569) is applied by the
    * caller; suitability (P5+P4+P6) is applied here.
    */
  def benchmarkItems(scored: DataFrame, urlCol: String, textCol: String,
                     subjectCol: String, titleCol: String,
                     abstractCol: String): DataFrame = {
    val text = col(textCol)
    val base = Heuristics.EligibilitySample
      .filter(scored, text)(graft.Pipeline.eligibleOf(text, col(urlCol), 300, _))
      .withColumn("clean_title", Clean.titleClean(col(titleCol)))
      .withColumn("clean_abstract", Clean.abstractTruncate(col(abstractCol)))
      .withColumn("equations", Extract.equations(text))
      .withColumn("derivations", Extract.derivations(text))
      .withColumn("assumptions", Extract.assumptions(text))

    // E24 prompt templating: the four question kinds, q2-q4 conditional
    // (enhanced_paper_analyser.py:61-122)
    val q1 = struct(
      lit("general_analysis").as("qtype"),
      concat(
        lit("Analyze this physics paper and identify any issues in scientific reasoning, mathematical derivations, and underlying assumptions. Focus on subtle errors that require physics expertise to detect.\n\nAbstract: "),
        col("clean_abstract"),
        lit("\n\nWhat specific technical problems can you identify in the approach, methodology, or conclusions?")).as("question"))
    val q2 = when(length(trim(col("equations"))) > 100, struct(
      lit("mathematical_analysis").as("qtype"),
      concat(
        lit("Examine the mathematical framework presented in this physics work. Identify any inconsistencies, dimensional problems, or derivation errors in the equations and calculations.\n\nKey equations: "),
        substring(col("equations"), 1, 1000), lit("...")).as("question")))
      .otherwise(lit(null))
    val q3 = when(length(trim(col("assumptions"))) > 50, struct(
      lit("assumption_analysis").as("qtype"),
      lit("Evaluate the physics assumptions and approximations made in this work. Are they appropriate for the context? Are there any overlooked effects or inappropriate simplifications?").as("question")))
      .otherwise(lit(null))
    val q4 = when(length(trim(col("derivations"))) > 100, struct(
      lit("reasoning_chain").as("qtype"),
      lit("Analyze the logical progression of arguments in this physics work. Identify any logical gaps, non-sequiturs, or places where the reasoning breaks down.").as("question")))
      .otherwise(lit(null))

    base
      .withColumn("questions", filter(array(q1, q2, q3, q4), q => q.isNotNull))
      .withColumn("n_questions", size(col("questions")))
      .select(col(urlCol).as("url"), col("clean_title"), col("clean_abstract"),
        col("equations"), col("derivations"), col("assumptions"),
        col("questions"), col("n_questions"))
  }
}
