package graft

import org.apache.spark.sql.functions._
import graft.derive.{RlBuilder, UgBuilders, UgExample, Extract}

/** Dev probe for the round-3 verdict's watch items (item 4): measure the
  * UG chain's remaining per-candidate terms (UgStepPatterns /
  * UgProblemStmtPatterns and friends inside the fused UgExample.metaRow) and
  * the RL builders' post-explode Column assembly
  * (rlCompletion / v3ThinkingSection / sourceContext) so the
  * fuse-or-leave decision is evidence-based, not vibes. The numbers land
  * in NOTES.md (round-4 section) as the recorded decision.
  */
class UgProfileProbe extends SparkTestBase {
  import spark.implicits._

  private def minOf(reps: Int)(body: => Unit): Double =
    (1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }.min

  test("profile ug per-candidate fused helpers", ProbeTag) {
    val corpus = spark.read
      .parquet(graft.fixtures.SynthCorpus.materializedCorpus(spark))
      .withColumn("subject", lit("Physics")).withColumn("title", lit("T"))
    // the REAL candidate population: the chain's own cleaned blocks
    val rows = UgBuilders
      .ugCleanedBlocks(corpus, "url", "text", "subject", "title")
      .select(col("b.block").as("raw"), col("cleaned")).collect()
    val raws = rows.map(_.getString(0))
    val cleaned = rows.map(_.getString(1))
    val nBlocks = cleaned.length
    val bytes = cleaned.map(_.length.toLong).sum
    assert(nBlocks > 100, s"probe needs a real population, got $nBlocks")

    // warm JIT once on everything
    cleaned.foreach { c =>
      UgExample.solutionSteps(c); UgExample.problemStatement(c)
      UgExample.difficulty(c); UgExample.topic(c, "Physics")
      UgExample.reasoningType(c); UgExample.prerequisites(c)
      UgExample.concepts(c); UgExample.metaRow(c, "Physics")
    }
    raws.foreach(r => UgExample.completeDerivation(r))

    def per(name: String)(body: String => Any): Double = {
      val s = minOf(5)(cleaned.foreach(body))
      info(f"$name%-22s ${s * 1e6 / nBlocks}%8.1f us/block  (${s}%.3f s over $nBlocks blocks)")
      s
    }
    val tSteps = per("solutionSteps")(UgExample.solutionSteps)
    val tStmt = per("problemStatement")(UgExample.problemStatement)
    val tDiff = per("difficulty")(UgExample.difficulty)
    val tTopic = per("topic")(UgExample.topic(_, "Physics"))
    val tReason = per("reasoningType")(UgExample.reasoningType)
    val tPrereq = per("prerequisites")(UgExample.prerequisites)
    val tConcepts = per("concepts")(UgExample.concepts)
    val tMeta = per("metaRow (all)")(UgExample.metaRow(_, "Physics"))
    val tClean = minOf(5)(raws.foreach(UgExample.completeDerivation))
    info(f"completeDerivation     ${tClean * 1e6 / raws.length}%8.1f us/raw-block  (${tClean}%.3f s over ${raws.length})")
    info(f"population: $nBlocks cleaned blocks, ${bytes / nBlocks} avg chars")
    // sanity: the parts sum to roughly the fused whole (no hidden term)
    val parts = tSteps + tStmt + tDiff + tTopic + tReason + tPrereq + tConcepts
    assert(tMeta < parts * 1.5 + 0.05, "metaRow slower than its parts — hidden cost")
  }

  test("ug step/stmt anchor-presence rates on the gated population", ProbeTag) {
    // Anchor guards only pay when anchors are ABSENT (the regex is then
    // skipped); on candidate blocks that already passed the derivation
    // batteries, the necessary literals may be nearly always present —
    // in which case a guard is pure overhead. Measure the skip rate.
    val corpus = spark.read
      .parquet(graft.fixtures.SynthCorpus.materializedCorpus(spark))
      .withColumn("subject", lit("Physics")).withColumn("title", lit("T"))
    val cleaned = UgBuilders
      .ugCleanedBlocks(corpus, "url", "text", "subject", "title")
      .select("cleaned").collect().map(_.getString(0))
    val stepAnchors: Seq[(String, Seq[Seq[String]])] = Seq(
      "step1 (Step/First/...)" -> Seq(Seq("step", "first", "initially",
        "next", "then", "finally")),
      "step2 (Using+equation)" -> Seq(Seq("using", "applying", "from", "by"),
        Seq("equation", "formula", "law", "principle", "conservation")),
      "step3 (Subst+=)" -> Seq(Seq("substituting", "setting", "with", "given"),
        Seq("=")),
      "step4 (Therefore)" -> Seq(Seq("therefore", "thus", "hence",
        "we obtain", "we get", "this gives")),
      "step5 (The+energy)" -> Seq(Seq("the", "a", "an"),
        Seq("energy", "force", "momentum", "velocity", "acceleration")),
      "step6 (Solving)" -> Seq(Seq("solving", "calculating", "finding",
        "determining")),
      "stmt1 (Problem:)" -> Seq(Seq("problem", "question")),
      "stmt2 (Given/Find)" -> Seq(Seq("given", "consider", "find",
        "calculate", "determine", "show", "prove")),
      "stmt3 (A particle)" -> Seq(Seq("a"),
        Seq("particle", "wave", "field", "system")))
    // measure with the GUARD's own folding (ASCII-only), not sparkLower —
    // the rates must describe what AnchorGuard.anchored actually sees
    val lowered = cleaned.map(graft.derive.AnchorGuard.asciiLower)
    stepAnchors.foreach { case (name, groups) =>
      val present = lowered.count(lo => groups.forall(_.exists(lo.contains)))
      info(f"$name%-24s anchors present in ${present * 100.0 / lowered.length}%5.1f%% of ${lowered.length} blocks")
    }
  }

  test("profile block extraction batteries per gated doc", ProbeTag) {
    val corpus = spark.read
      .parquet(graft.fixtures.SynthCorpus.materializedCorpus(spark))
    val gated = corpus
      .filter(graft.derive.Derive.suitableForTraining(col("text"), col("url")))
      .select("text").cache()
    val n = gated.count()
    val fused = graft.derive.BlockExtract.blocksCol(col("text"))
    def t(name: String)(c: org.apache.spark.sql.Column): Unit = {
      gated.select(sum(size(c))).head()
      val s = minOf(3)(gated.select(sum(size(c))).head())
      info(f"$name%-24s ${s * 1e6 / n}%8.1f us/gated-doc  (${s}%.3f s over $n docs)")
    }
    t("BlockExtract (E13)")(fused.getField("solutions"))
    t("ugFindCompleteDerivs")(UgBuilders.ugFindCompleteDerivations(col("text")))
    gated.unpersist()
  }

  test("profile rl post-explode assembly columns", ProbeTag) {
    val corpus = spark.read
      .parquet(graft.fixtures.SynthCorpus.materializedCorpus(spark))
    // real v2 exploded examples, amplified so per-row cost is measurable
    val exploded = graft.functions.ComputeOnce(
      corpus.filter(RlBuilder.suitableForRlTraining(col("text")) &&
        !col("text").rlike(RlBuilder.CrashExistencePattern)), "__ex",
      RlBuilder.extractedExamples(col("text")))
      .filter(size(col("__ex")) > 0)
      .select(lit("Physics").as("subject"), lit("T").as("title"),
        explode(col("__ex")).as("e"))
      .collect()
    val n = exploded.length
    assert(n > 0)
    val amp = 2000
    val big = spark.createDataFrame(
      spark.sparkContext.parallelize(exploded.toIndexedSeq, 8),
      exploded.head.schema).crossJoin(
        spark.range(amp).select(lit(1).as("__one"))).cache()
    val rows = big.count() // n * amp

    val quality = col("e.quality_score"); val steps = col("e.solution_steps")
    val problem = col("e.problem_statement")
    def t(name: String)(c: org.apache.spark.sql.Column): Double = {
      big.select(sum(length(c.cast("string")))).head() // warm
      val s = minOf(3)(big.select(sum(length(c.cast("string")))).head())
      info(f"$name%-18s ${s * 1e9 / rows}%8.0f ns/row  (${s}%.3f s over $rows rows)")
      s
    }
    val base = t("baseline (problem)")(problem)
    t("rlCompletion")(Extract.rlCompletion(steps, quality, col("e.final_answer")))
    t("rlDifficulty")(RlBuilder.rlDifficulty(problem, steps))
    big.unpersist()
    assert(base >= 0.0)
  }

  test("profile v3 assembly columns", ProbeTag) {
    val corpus = spark.read
      .parquet(graft.fixtures.SynthCorpus.materializedCorpus(spark))
    val exploded = graft.functions.ComputeOnce(
      corpus.filter(RlBuilder.suitableForRlTrainingV3(col("text"))), "__ex",
      RlBuilder.v3ExtractedExamples(col("text")))
      .filter(size(col("__ex")) > 0)
      .select(explode(col("__ex")).as("e")).collect()
    val n = exploded.length
    assert(n > 0)
    val amp = 2000
    val big = spark.createDataFrame(
      spark.sparkContext.parallelize(exploded.toIndexedSeq, 8),
      exploded.head.schema).crossJoin(
        spark.range(amp).select(lit(1).as("__one"))).cache()
    val rows = big.count()
    val solution = col("e.solution")
    def t(name: String)(c: org.apache.spark.sql.Column): Double = {
      big.select(sum(length(c.cast("string")))).head()
      val s = minOf(3)(big.select(sum(length(c.cast("string")))).head())
      info(f"$name%-18s ${s * 1e9 / rows}%8.0f ns/row  (${s}%.3f s over $rows rows)")
      s
    }
    t("baseline (solution)")(solution)
    t("v3ThinkingSection")(RlBuilder.v3ThinkingSection(solution))
    t("v3FinalAnswer")(RlBuilder.v3FinalAnswer(solution))
    big.unpersist()
  }
}
