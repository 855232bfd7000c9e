package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming face of the quality filter.
  *
  * The reference has no streaming (SURVEY.md §2.9) and the batch pipeline is
  * the primary path. Every transformation in graft.Pipeline and the
  * derive builders is NARROW (project/filter — no global sort, no
  * cross-row state), so those batch functions run unchanged on an
  * unbounded `readStream` source (StreamingSpec proves micro-batches ≡
  * batch); this module holds only what needs a streaming-native form.
  *
  * Provided: the curation chain's streaming face and the streaming exact
  * dedup it runs.
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

  // ------------------------------------------------------------------
  // Streaming exact dedup — the stream face of Dedup.exactSurvivors.
  // ------------------------------------------------------------------

  /** Spark's own streaming `dropDuplicates` over the
    * 128-bit content key (state-store-backed, the built-in operator is
    * exactly this job — preference (a) of the custom-op ladder). Pass a
    * watermark column name to bound state: keys older than the watermark
    * are evicted, the standard web-crawl dedup-horizon tradeoff
    * (re-crawls beyond the horizon are re-admitted).
    *
    * Within a micro-batch the kept row is the first encountered —
    * arrival-order-dependent.
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
}
