package graft.curate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.dedup.Dedup
import graft.functions.ComputeOnce
import graft.rules.Heuristics
import graft.scrub.PiiScrub

/** The composed end-to-end curation chain — the north_star's actual
  * product: one keep/drop + scrub decision per crawled document, built
  * from the already-oracled operators in CHEAP-FIRST order (SURVEY.md
  * §4.1):
  *
  *   1. Gopher/C4 pre-filter  — pure narrow Catalyst expressions
  *      (`Heuristics.gopherStats` behind a ComputeOnce barrier): zero
  *      shuffles, whole-stage codegen, drops degenerate text before
  *      anything pays a shuffle for it.
  *   2. Exact dedup           — `Dedup.exactLosers`: min id per md5
  *      fingerprint, map-side-combinable; the shuffles move (id,
  *      fingerprint) rows, never the document text.
  *   3. Near-dup dedup        — candidate pairs over the exact-dedup
  *      survivors only, then connected components (adaptive driver
  *      union-find / HashMin+pointer-jumping) and keep-one-per-cluster.
  *      Two candidate strategies: `strategy = "exact"` (default) is the
  *      prefix-filtered all-pairs Jaccard join — every J ≥ t pair,
  *      DuckDB-oracle-able (q52), inherently quadratic in near-dup
  *      CLUSTER size; `strategy = "minhash"` is the web-scale regime —
  *      capped, observable MinHash-LSH band buckets propose candidates
  *      and each is exactly verified (recall < 1; a missed pair keeps an
  *      extra doc, the safe direction). On a boilerplate-dense corpus
  *      (the scaling fixture: ~300k true pairs in 20k docs) exact is
  *      the wrong tool by construction — use minhash.
  *   4. PII/toxicity scrub    — compiled battery, applied ONLY to kept
  *      documents.
  *
  * Stage order is part of the semantics (and of the DuckDB oracle, q52):
  * near-dup pairs are generated only among exact-dedup survivors, which
  * are only gopher survivors — each stage shrinks the input of the next,
  * strictly cheaper → more expensive. Model scoring composes after the
  * chain via [[full]] (survivors only reach the perplexity model).
  *
  * Scale notes: by default the gopher stage recomputes on each
  * downstream reference rather than materializing the corpus (narrow
  * expressions over a column-pruned scan are cheaper to re-run than
  * writing a corpus-sized intermediate at 100 TB); flip `materialize`
  * to checkpoint the post-gopher frame once when the working set fits
  * executor storage. Reference behavioral basis: the
  * reference pipeline is single-stream per-document filtering
  * (paper_analyser.py:87) — the multi-document dedup stages are the
  * graft's own 100-TB mandate (BASELINE.json north_star).
  */
object Curate {

  val StageGopher = "gopher"
  val StageExactDup = "exact_dup"
  val StageNearDup = "near_dup"
  val StageKept = "kept"

  /** Near-dup pair parameters: word trigram shingles, Jaccard ≥ 0.8 (the
    * q52 oracle's threshold), posting lists capped at 10,000 documents.
    */
  val ShingleN = 3
  val MinJaccard = 0.8
  val MaxDf = 10000

  /** Columns the chain adds while labeling rows; input may not carry them. */
  val ReservedColumns =
    Seq("stage", "scrubbed", "__keep", "__stage", "__fp", "__keeper", "__n", "__g")

  /** Shared chain plumbing: gopher-annotated frame + the loser list.
    *
    * Only keys move between the stages: each loser list (the exact
    * losers, then exact ∪ near) is a key-only `(idCol, stage)` frame
    * held once by [[keyList]], so while the lists fit the driver budget
    * no exchange of the chain carries the document text.
    *
    * @return (gophered, losers): `gophered` is `docs` plus a `__keep`
    *         gopher-keep boolean; `losers` is (idCol, stage) for
    *         every document dropped by stage 2 or 3 — stage 2 losers
    *         never feed stage 3's pair generation.
    */
  private def chain(docs: DataFrame, idCol: String, textCol: String,
                    collectThreshold: Int, materialize: Boolean,
                    strategy: String): (DataFrame, DataFrame) = {
    Dedup.requireFree(docs, ReservedColumns)
    // every stage labels and joins by id alone, so a repeated id would put
    // one loser label on each row sharing it (key-only: parquet reads the
    // id column alone)
    docs.select(idCol).groupBy(idCol).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).limit(1).collect().foreach { r =>
        throw new IllegalArgumentException(s"id column '$idCol' is not unique: " +
          s"value '${r.get(0)}' occurs ${r.getLong(1)} times; deduplicate by it first")
      }
    val id = col(idCol)
    val text = col(textCol)
    // one tokenizer pass per row (Let-bound inside gopherStats) behind a
    // Generate barrier — without it CollapseProject re-inlines the
    // tokenizer per field reference (the round-2 trap); only the keep
    // bit is carried forward (the signal fields are q51's surface)
    // null text ⇒ gopher-dropped, not silently kept: every gopher signal
    // is null on null input, so an un-coalesced keep bit would three-
    // valued-logic its way past BOTH the drop branch and the loser join
    // straight to 'kept' (and real crawls do carry null extractions)
    val gophered0 = ComputeOnce(docs, "__g", Heuristics.gopherStats(text))
      .withColumn("__keep", coalesce(col("__g.gopher_keep"), lit(false)))
      .drop("__g")
    // materialize: the chain references this frame from several branches
    // (exact-dedup aggregate, pair generation, final labeling) — each
    // re-runs the upstream scan + extraction + gopher pass (~8 s per
    // evaluation on the 20k-doc raw corpus). When the working set fits
    // executor storage (corpus ≪ memory), one eager localCheckpoint
    // replaces ~4 re-evaluations; at true 100-TB scale leave false —
    // recomputing a narrow scan beats writing a corpus-sized
    // intermediate (blocks are freed by ContextCleaner when the frame
    // is GC'd).
    val gophered = if (materialize) gophered0.localCheckpoint() else gophered0
    val gopherKept = gophered.filter(col("__keep"))

    // stage 2: exact dedup — Dedup's loser operator (map-side-combinable
    // min-id per fingerprint; shuffles (id, fingerprint) only, never the
    // text). Its null-text sentinel makes stage 2 correct on its own:
    // today stage 1 already drops null text (gopher signals are null ⇒
    // keep=false), but stage 2 must not depend on stage 1's ordering.
    val (exactLosers, exactLosersSide) = keyList(
      Dedup.exactLosers(gopherKept, idCol, textCol)
        .select(id, lit(StageExactDup).as("stage")), collectThreshold)

    // stage 3 input: exact-dedup survivors, text column pruned to what
    // pair generation needs
    val exactKept = gopherKept.select(id, text)
      .join(exactLosersSide, Seq(idCol), "left_anti")
    val pairs = strategy match {
      case "exact" =>
        // exhaustive prefix-filtered all-pairs: every J ≥ t pair found —
        // the DuckDB-oracled configuration (q52). Output is inherently
        // quadratic in near-dup CLUSTER size, so this is the
        // sparse-duplication / oracle regime.
        Dedup.ngramJaccardPairs(exactKept, idCol, textCol,
          n = ShingleN, minJaccard = MinJaccard, maxDf = MaxDf,
          materialize = materialize)
      case "minhash" =>
        // web-scale regime (what production crawl dedup runs): MinHash
        // band buckets propose candidates (bucket sizes capped and
        // observable — boilerplate mega-clusters stay near-linear),
        // each candidate exactly verified. Recall < 1 by construction:
        // a missed pair keeps an extra document (the safe direction).
        Dedup.minhashPairs(exactKept, idCol, textCol,
          shingleN = ShingleN, threshold = MinJaccard,
          materialize = materialize)
      case other =>
        throw new IllegalArgumentException(
          s"unknown near-dup strategy '$other' (exact | minhash)")
    }
    val nearLosers = Dedup
      .connectedComponents(pairs, "id_a", "id_b",
        collectThreshold = collectThreshold)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol), lit(StageNearDup).as("stage"))

    // disjoint by construction: near-dup pairs are generated among exact
    // KEEPERS only, so no id carries two loser labels
    (gophered, keyList(exactLosers.unionByName(nearLosers), collectThreshold)._2)
  }

  /** A key-only loser list, computed once: a lazy local checkpoint whose
    * first reader stores its blocks, so every later join reads them
    * instead of re-running the dedup plan.
    *
    * @return (held, joinSide): `held` for any use but a join; `joinSide`
    *         for a join. When the list has at most `collectThreshold`
    *         rows (one `count` both sizes and stores it), `joinSide` is
    *         hinted to broadcast: a join against it then runs in the probe
    *         side's own partitions and never shuffles the document text (a
    *         shuffled labeling join moves the full-width frame, and AQE may
    *         coalesce that shuffle — the scorer after it included — into one
    *         task). Above the threshold (or at 0) the planner's shuffled
    *         join stays: the 100-TB path, with no count. A hint anywhere
    *         but a join side (a union) is dropped with a warning, so
    *         `held` carries none. Blocks are freed by the ContextCleaner
    *         when the frame is GC'd.
    */
  private def keyList(list: DataFrame, collectThreshold: Int): (DataFrame, DataFrame) = {
    val held = list.localCheckpoint(eager = false)
    val small = collectThreshold > 0 && held.count() <= collectThreshold
    (held, if (small) broadcast(held) else held)
  }

  /** The auditable per-document decision log: ONE row per input document
    * with `stage` ∈ {gopher, exact_dup, near_dup, kept} naming the stage
    * that dropped it (or `kept`), and `scrubbed` = the PII/toxicity-
    * scrubbed text for kept documents (null otherwise — dropped text is
    * never scrubbed). This is the frame a curation run would write next
    * to the training sink: every drop is attributable, every kept byte
    * is scrub-clean. Fully DuckDB-oracled end-to-end (q52).
    *
    * An input frame carrying one of [[ReservedColumns]] is rejected
    * with an IllegalArgumentException naming the column. `idCol` must be
    * unique: a repeated id is rejected the same way, naming the column and
    * one repeated value (also for [[curated]] and [[full]]).
    *
    * @param collectThreshold the chain's driver budget, in rows (also for
    *        [[curated]] and [[full]]): the near-dup pair graph is union-
    *        found on the driver when it has at most this many edges, and
    *        a loser list is broadcast to its joins when it has at most
    *        this many rows. Above it (or at 0) both stay distributed: the
    *        HashMin loop and shuffled joins.
    */
  def curationLog(docs: DataFrame, idCol: String, textCol: String,
                  collectThreshold: Int = 1 << 20,
                  materialize: Boolean = false,
                  strategy: String = "exact"): DataFrame = {
    val id = col(idCol)
    val text = col(textCol)
    val (gophered, losers) = chain(docs, idCol, textCol,
      collectThreshold, materialize, strategy)
    // single-branch labeling: one left join over ALL docs instead of a
    // filter-split + union (the split evaluated the gopher subtree once
    // per branch — measured ~6 s/evaluation on the 20k-doc raw corpus).
    // A gopher-dropped doc can't be in `losers` (losers ⊂ gopher
    // survivors), so its joined stage is null and the CASE falls through
    // to 'gopher'; the scrub runs lazily only on kept rows.
    gophered
      .join(losers, Seq(idCol), "left")
      .withColumn("__stage",
        when(!col("__keep"), lit(StageGopher))
          .otherwise(coalesce(col("stage"), lit(StageKept))))
      .select(id, col("__stage").as("stage"),
        when(col("__stage") === StageKept, PiiScrub.scrub(text))
          .otherwise(lit(null).cast("string")).as("scrubbed"))
  }

  /** Chain survivors with every input column intact plus `scrubbed` —
    * the frame downstream consumers (training sinks, the model scorer)
    * actually read.
    */
  def curated(docs: DataFrame, idCol: String, textCol: String,
              collectThreshold: Int = 1 << 20,
              materialize: Boolean = false,
              strategy: String = "exact"): DataFrame = {
    val (gophered, losers) = chain(docs, idCol, textCol,
      collectThreshold, materialize, strategy)
    gophered.filter(col("__keep"))
      .drop("__keep")
      .join(losers, Seq(idCol), "left_anti")
      .withColumn("scrubbed", PiiScrub.scrub(col(textCol)))
  }

  /** The WHOLE pipeline over a raw crawl frame (url, warc_ts, html, …):
    * extract → curation chain (cheap gates + dedup) → model scoring of
    * the survivors only. The model (perplexity + stage dims — the
    * expensive per-byte work) never sees a document that gopher rules or
    * dedup would discard; at web scale that is the majority of the
    * corpus. Output: `Pipeline.score`'s full docs_scored schema for the
    * surviving documents.
    *
    * `url` is the chain's id and must be unique (a repeated url is
    * rejected): deduplicate re-crawls upstream, e.g. latest `warc_ts`.
    */
  def full(docsRaw: DataFrame, spark: SparkSession,
           collectThreshold: Int = 1 << 20,
           materialize: Boolean = false,
           strategy: String = "exact"): DataFrame = {
    val survivors = curated(Pipeline.extract(docsRaw), "url", "text",
      collectThreshold, materialize, strategy).drop("scrubbed")
    // scoreExtracted re-applies the scrub on its own output column
    Pipeline.scoreExtracted(survivors, spark)
  }
}
