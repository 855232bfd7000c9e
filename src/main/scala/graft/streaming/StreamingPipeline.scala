package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming face of the quality filter.
  *
  * The reference has no streaming (SURVEY.md §2.9) and the batch pipeline is
  * the primary path; this module exists because every transformation in
  * graft.Pipeline is NARROW (project/filter — no global sort,
  * no cross-row state), so the identical plan runs unchanged on an unbounded
  * `readStream` source. That property is itself worth a test: streaming
  * micro-batches must produce byte-for-byte the batch pipeline's labels.
  *
  * Also provided: watermarked per-window keep-rate aggregation (the
  * monitoring stream a production filter runs next to the main sink).
  */
object StreamingPipeline {

  /** Apply the full scoring pipeline to a streaming docs_raw DataFrame.
    * Works on any streaming source with the input_hint schema
    * (url, warc_ts, html binary, ...).
    */
  def score(streamingDocs: DataFrame, spark: SparkSession): DataFrame =
    graft.Pipeline.score(streamingDocs, spark)

  /** Streaming face of the derived-dataset builders: the training-example
    * and v3 benchmark batteries are NARROW plans (gate → per-row regexp
    * batteries → explode), so they run unchanged on a scored stream —
    * continuous training-data derivation next to the filter sink.
    * StreamingDeriveSpec proves micro-batches ≡ batch rows.
    */
  def trainingExamplesStream(scoredStream: DataFrame): DataFrame =
    graft.derive.Derive.trainingExamples(
      scoredStream.withColumn("subject", lit("Physics")), "url", "text", "subject")

  def benchmarkItemsV3Stream(scoredStream: DataFrame): DataFrame =
    graft.derive.BenchmarkBuilders.benchmarkItemsV3(
      scoredStream.withColumn("subject", lit("Physics")), "url", "text", "subject")

  /** The RL (v2/v3) and UG training builders are the same narrow shape
    * (gate → guarded batteries → fused per-candidate exprs → explode),
    * so they stream unchanged too — StreamingDeriveSpec proves
    * micro-batches ≡ batch for each.
    */
  def rlTrainingExamplesStream(scoredStream: DataFrame): DataFrame =
    graft.derive.RlBuilder.rlTrainingExamples(
      scoredStream.withColumn("subject", lit("Physics"))
        .withColumn("title", lit("Physics paper")),
      "url", "text", "subject", "title")

  def rlTrainingExamplesV3Stream(scoredStream: DataFrame): DataFrame =
    graft.derive.RlBuilder.rlTrainingExamplesV3(
      scoredStream.withColumn("subject", lit("Physics"))
        .withColumn("title", lit("Physics paper")),
      "url", "text", "subject", "title")

  def ugTrainingExamplesStream(scoredStream: DataFrame): DataFrame =
    graft.derive.UgBuilders.ugTrainingExamples(
      scoredStream.withColumn("subject", lit("Physics"))
        .withColumn("title", lit("Physics paper")),
      "url", "text", "subject", "title")

  /** Gopher/C4 repetition + shape signals on a stream: one stateless
    * Let-bound projection per row (the ComputeOnce Generate barrier is
    * streaming-safe), so the q51 pre-filter runs unchanged ahead of the
    * scoring sink. StreamingDeriveSpec proves micro-batches ≡ batch.
    */
  def gopherStatsStream(docsStream: DataFrame): DataFrame =
    graft.functions.ComputeOnce(docsStream, "__g",
      graft.rules.Heuristics.gopherStats(col("text")))
      .select(col("url"),
        col("__g.dup_line_frac").as("dup_line_frac"),
        col("__g.dup_3gram_frac").as("dup_3gram_frac"),
        col("__g.mean_word_len").as("mean_word_len"),
        col("__g.symbol_ratio").as("symbol_ratio"),
        col("__g.stopword_ratio").as("stopword_ratio"),
        col("__g.gopher_keep").as("gopher_keep"))

  /** Streaming face of the composed curation chain (Curate.curationLog's
    * cheap-first order, re-expressed with streaming-native operators):
    *
    *   1. Gopher pre-filter — stateless narrow projection, unchanged.
    *   2. Exact dedup — `dropDuplicates` on the md5 content key
    *      (state-store-backed; the kept row is the FIRST ARRIVAL, the
    *      honest streaming analog of the batch min-id keeper — a stream
    *      cannot retro-swap an emitted survivor).
    *   3. Near-dup — `dropDuplicates` on the 64-bit SimHash key: only
    *      documents whose full fingerprint collides are treated as
    *      near-dups. This is deliberately a CONSERVATIVE approximation
    *      of the batch chain's Jaccard-threshold components (an
    *      iterative fixpoint has no incremental form); disable with
    *      `simhashNearDup = false` to defer near-dup handling to a
    *      periodic batch `Curate.curationLog` over the sink.
    *   4. PII/toxicity scrub of the survivors.
    *
    * Output: the surviving rows with original columns plus `scrubbed`.
    * StreamingCurateSpec proves micro-batches ≡ the batch chain stages
    * on the stages that have exact streaming semantics.
    *
    * State-growth trade-off (round-5 ADVICE): both `dropDuplicates`
    * keys run WITHOUT a watermark, so the dedup state store grows with
    * the number of distinct documents ever seen — the price of exact
    * global "first arrival wins" semantics on an unbounded stream. For
    * a long-running deployment, bound the state by composing
    * `withWatermark` + `dropDuplicatesWithinWatermark` upstream of this
    * face (dedup then only spans the watermark horizon — documents
    * re-crawled later than the horizon are kept again, the safe
    * direction for a dedup), or run the exact batch chain periodically
    * over the sink. A TTL knob is deliberately NOT baked in here: the
    * right horizon is an ingestion-policy decision, and silently
    * changing dedup semantics behind a default would break the
    * micro-batch ≡ batch equivalence this face is specced against.
    */
  def curateStream(docs: DataFrame, idCol: String, textCol: String,
                   simhashNearDup: Boolean = true): DataFrame = {
    val text = col(textCol)
    val gophered = graft.functions.ComputeOnce(docs, "__g",
        graft.rules.Heuristics.gopherStats(text))
      .filter(col("__g.gopher_keep"))
      .drop("__g")
    val exact = gophered
      .withColumn("__dup_key", md5(text.cast("binary")))
      .dropDuplicates("__dup_key")
      .drop("__dup_key")
    val near =
      if (!simhashNearDup) exact
      else exact.withColumn("__sim", graft.dedup.Dedup.simhash(text))
        .dropDuplicates("__sim")
        .drop("__sim")
    near.withColumn("scrubbed", graft.scrub.PiiScrub.scrub(text))
  }

  /** Windowed keep-rate monitoring: 1-minute tumbling windows on warc_ts
    * with a 2-minute watermark — late crawl records beyond the watermark are
    * dropped, state is bounded (north-star driver-light requirement).
    */
  def keepRateByWindow(scored: DataFrame): DataFrame =
    scored
      .withWatermark("warc_ts", "2 minutes")
      .groupBy(window(col("warc_ts"), "1 minute"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        avg(col("overall_score")).as("avg_score"))

  // ------------------------------------------------------------------
  // Streaming exact dedup — the stream face of Dedup.exactSurvivors.
  // ------------------------------------------------------------------

  /** Canonical path: Spark's own streaming `dropDuplicates` over the
    * 128-bit content key (state-store-backed, the built-in operator is
    * exactly this job — preference (a) of the custom-op ladder). Pass a
    * watermark column name to bound state: keys older than the watermark
    * are evicted, the standard web-crawl dedup-horizon tradeoff
    * (re-crawls beyond the horizon are re-admitted).
    *
    * Within a micro-batch the kept row is the first encountered —
    * arrival-order-dependent. For deterministic min-id survivors use
    * `streamingExactDedupMinId`.
    */
  def streamingDedup(docs: DataFrame, textCol: String,
                     watermarkCol: Option[String] = None,
                     horizon: String = "24 hours"): DataFrame = {
    val keyed = docs.withColumn("dup_key", md5(col(textCol).cast("binary")))
    watermarkCol match {
      case Some(ts) => keyed.withWatermark(ts, horizon)
        .dropDuplicates("dup_key", ts)
      case None => keyed.dropDuplicates("dup_key")
    }
  }

  final case class DedupSurvivor(dup_key: String, id: Long)

  /** Deterministic variant: one boolean of state per content key; emits
    * (key, min id in the FIRST micro-batch containing the key). When
    * arrival order respects id order, this equals the batch
    * `Dedup.exactSurvivors` keeper exactly (StreamingDedupSpec); across
    * arbitrary arrival orders the survivor is the earliest-arrival batch's
    * min id — the honest streaming semantics (a stream cannot retro-swap
    * an already-emitted survivor).
    */
  def streamingExactDedupMinId(docs: DataFrame, idCol: String,
                               textCol: String): org.apache.spark.sql.Dataset[DedupSurvivor] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(md5(col(textCol).cast("binary")).as("dup_key"),
        col(idCol).cast("long").as("id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: String, rows: Iterator[(String, Long)],
         state: GroupState[Boolean]) => {
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single(DedupSurvivor(key, rows.map(_._2).min))
          }
        })
  }

  // ------------------------------------------------------------------
  // Custom state: per-domain running keep statistics via
  // flatMapGroupsWithState (the KeyValueGroupedDataset state-store path —
  // what a production filter uses for per-host rate limiting / quota).
  // ------------------------------------------------------------------

  final case class DomainState(nDocs: Long, nKept: Long)
  final case class DomainUpdate(domain: String, n_docs: Long, n_kept: Long,
                                keep_rate: Double)

  /** Emit a cumulative per-domain update on every micro-batch. State is one
    * tiny struct per domain — bounded by domain cardinality, not rows.
    */
  def domainRunningStats(scored: DataFrame): org.apache.spark.sql.Dataset[DomainUpdate] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = scored.sparkSession
    import spark.implicits._
    scored
      .select(
        coalesce(parse_url(col("url"), lit("HOST")), lit("unknown")).as("domain"),
        col("keep"))
      .as[(String, Boolean)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (domain: String, rows: Iterator[(String, Boolean)],
         state: GroupState[DomainState]) => {
          val prev = state.getOption.getOrElse(DomainState(0L, 0L))
          var n = prev.nDocs
          var k = prev.nKept
          rows.foreach { case (_, keep) => n += 1; if (keep) k += 1 }
          state.update(DomainState(n, k))
          Iterator.single(DomainUpdate(domain, n, k,
            if (n == 0) 0.0 else k.toDouble / n))
        })
  }
}
