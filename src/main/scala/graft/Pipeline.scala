package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.extract.HtmlText
import graft.lang.LangId
import graft.rules.{Heuristics, PatternCounts, TokenStats}
import graft.score.{Perplexity, Score, Stages}
import graft.scrub.PiiScrub

/** The quality-filter pipeline composition (SURVEY.md §3.4, §7.2).
  *
  * Input: `docs_raw` with columns (url, warc_ts, html, text, lang) per
  * BASELINE.json input_hint. Output: `docs_scored` — every input row widened
  * with extracted/cleaned text, langid, stats, stage-1..3 scores, the exact
  * M4 overall score, the P1 keep label, and PII-scrubbed text.
  *
  * Plan structure (cheap-first, SURVEY.md §4.1): extraction, the cheap
  * gates, perplexity and everything downstream are Catalyst expressions
  * fused into one codegen span over the scan; perplexity computes only for
  * rows that survived the gates (per-row conditional — no plan split, no
  * shuffle).
  *
  * Scale notes: zero shuffles end-to-end for scoring (narrow transformations
  * only); the output is written partitioned by url-hash.
  */
object Pipeline {

  /** P5 minimum cleaned-text length (enhanced_paper_analyser.py:148). */
  val MinTextLength = 300

  /** Suitability gate — the reference's benchmark-suitability check
    * (enhanced_paper_analyser.py:145-172): min length 300, English stopword
    * threshold 2 (viXra) / 3 (arXiv), domain-term threshold 1 (viXra) / 2.
    */
  def eligible(text: Column, url: Column, minLen: Int): Column =
    eligibleOf(text, url, minLen, Heuristics.EligibilitySample.mask(text))

  /** `eligible` over the sample's mask (`Heuristics.EligibilitySample`);
    * a filter on it goes through `EligibilitySample.filter`.
    */
  private[graft] def eligibleOf(text: Column, url: Column, minLen: Int, mask: Column): Column = {
    val sample = Heuristics.EligibilitySample
    val isVixra = lower(url).contains("vixra")
    val enThreshold = when(isVixra, 2).otherwise(3)
    val termThreshold = when(isVixra, 1).otherwise(2)
    Heuristics.minLength(text, minLen) &&
      (sample.count(mask, LangId.EnglishStopwords10) >= enThreshold) &&
      (sample.count(mask, Heuristics.PhysicsIndicators ++ Heuristics.VixraIndicators) >=
        termThreshold)
  }

  /** E1 + C1: extraction and basic clean — THE byte-identical surface.
    * Fused into ONE scan (HtmlText.extractCleanCol): html bytes → cleaned `text`,
    * no intermediate extraction string, no separate clean pass (the
    * chained extractCol + graft_basic_clean forms remain and are
    * equality-tested against this). The html blob is dropped immediately
    * after: it would otherwise be serialized onward (4KB+/row of pure
    * memory traffic — at 10^12 docs that is petabytes).
    */
  def extract(docsRaw: DataFrame): DataFrame =
    docsRaw.withColumn("text", HtmlText.extractCleanCol(col("html"))).drop("html")

  /** Full scoring pipeline: docs_raw → docs_scored. */
  def score(docsRaw: DataFrame, spark: SparkSession): DataFrame =
    scoreExtracted(extract(docsRaw), spark)

  /** Scoring from the post-extraction seam: `extracted` already carries a
    * cleaned `text` column (and `url` for the eligibility gate). This is
    * the composition point for upstream curation stages — Curate.full
    * runs extract → cheap gates → dedup, then feeds ONLY the survivors
    * here, so the model never scores a document the cheap stages would
    * discard (cheap-first, SURVEY.md §4.1).
    */
  def scoreExtracted(extracted: DataFrame, spark: SparkSession): DataFrame = {
    // P4: langid (fastText-style hashed n-gram model, JVM-static).
    val withLang = LangId.withLangNgram(extracted, "text", "lang", spark)

    // E2–E9 as one struct + cheap gates. The tokenize-and-count core and
    // the 10-pattern count battery each run as one fused native expression
    // (one tokenization + hash-set membership; find()-only pattern loops).
    val withStats = withLang
      .withColumn("__ts", TokenStats.statsCol(col("text")))
      .withColumn("__pc", PatternCounts.countsCol(col("text")))
      .withColumn("stats",
        Heuristics.textStatsFused(col("text"), col("__ts"), col("__pc")))
      .drop("__ts", "__pc")
      .withColumn("eligible", eligible(col("text"), col("url"), MinTextLength))

    // M1 stage-1 gate (computed for all rows; pass requires eligibility —
    // ineligible docs never reached the classifier in the reference, and
    // stage-1 fail forces score 0.0 at classifier.py:329-330).
    val withStage1 = withStats
      .withColumn("sophistication",
        Stages.sophistication(
          col("stats.physics_density"), col("stats.equation_count"),
          col("stats.reference_count"), col("stats.word_count")))
      .withColumn("stage1_pass",
        col("eligible") && Stages.stage1Pass(col("sophistication")))

    // M2: perplexity. The model is code-embedded and deterministic, so it
    // scores through a native expression over the JVM-static model —
    // keeping the ENTIRE pipeline one whole-stage-codegen span with no
    // mapPartitions fence and no Row serialization. The `when` gate is
    // lazy per-row: stage-1 failures skip the model (cheap-first ordering,
    // classifier.py:102-104).
    val withPpl = withStage1.withColumn("ppl",
      when(col("stage1_pass"), Perplexity.scoreCol(col("text")))
        .otherwise(lit(Perplexity.MaxPpl)))

    val withDims = withPpl
      .withColumn("dim_math_errors",
        Stages.dimMathErrors(col("stats.math_expressions"), col("stats.word_count")))
      .withColumn("dim_physics_assumptions", Stages.dimPhysicsAssumptions(col("text")))
      .withColumn("dim_logical_consistency",
        Stages.dimLogicalConsistency(col("ppl"), col("text")))
      .withColumn("dim_literature_integration",
        Stages.dimLiteratureIntegration(col("stats.reference_count"), col("text")))
      .withColumn("avg_stage2",
        Stages.avgStage2(col("dim_math_errors"), col("dim_physics_assumptions"),
          col("dim_logical_consistency"), col("dim_literature_integration")))
      .withColumn("issues",
        Stages.subtleIssues(col("dim_math_errors"), col("dim_physics_assumptions"),
          col("dim_logical_consistency"), col("dim_literature_integration")))

    // M3 + M4 + P1 + C13: recommendation, overall score, keep label, scrub.
    // The scrub is a native kernel call: one string boundary crossing,
    // and only the regex passes whose required literal occurs in the row.
    withDims
      .withColumn("recommendation",
        Stages.recommendation(col("stage1_pass"), col("sophistication"), col("avg_stage2")))
      .withColumn("overall_score",
        Score.overall(col("stage1_pass"), col("sophistication"),
          col("avg_stage2"), col("recommendation")))
      .withColumn("keep", Score.keep(col("overall_score")))
      .withColumn("scrubbed_text", PiiScrub.scrub(col("text")))
  }

  /** Canonical docs_raw synthesis from the driver's `documents` table —
    * deterministic html wrapping so the extraction path is exercised
    * end-to-end on driver data (doc_id → url, text → html payload).
    */
  def docsRawFromDocuments(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    docs.select(
      concat(lit("https://"), col("source"), lit(".example.org/doc/"), col("doc_id")).as("url"),
      to_timestamp(lit("2026-01-01 00:00:00")).as("warc_ts"),
      encode(concat(
        lit("<html><head><title>doc</title></head><body><p>"),
        col("text"),
        lit("</p></body></html>")), "UTF-8").as("html"),
      col("text").as("text_orig"),
      col("lang").as("lang_orig"))
  }
}
