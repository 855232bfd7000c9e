package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming face of the quality filter.
  *
  * The reference has no streaming (SURVEY.md §2.9) and the batch pipeline is
  * the primary path. Every transformation in graft.Pipeline and the
  * derive builders is NARROW (project/filter — no global sort, no
  * cross-row state), so those batch functions run unchanged on an
  * unbounded `readStream` source (StreamingSpec proves micro-batches ≡
  * batch); this module holds only what needs a streaming-native form.
  *
  * Provided: the curation chain's streaming face, watermarked
  * per-window keep-rate aggregation (the monitoring stream a production
  * filter runs next to the main sink), streaming exact dedup and
  * per-domain running state.
  */
object StreamingPipeline {

  /** Streaming face of the composed curation chain (Curate.curationLog's
    * cheap-first order, re-expressed with streaming-native operators):
    *
    *   1. Gopher pre-filter — stateless narrow projection, unchanged.
    *   2. Exact dedup — [[streamingDedup]]: `dropDuplicates` on the md5
    *      content key (state-store-backed; the kept row is the FIRST
    *      ARRIVAL, the honest streaming analog of the batch min-id
    *      keeper — a stream cannot retro-swap an emitted survivor).
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
    val exact = streamingDedup(gophered, textCol).drop("dup_key")
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
