package graft.curate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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
  *   2. Exact dedup           — `Dedup.exactLosers`' aggregate over the
  *      fingerprint the gopher pass carries: min id per md5
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
  * One pass over the documents computes every per-document value the
  * chain needs — the gopher keep bit, the md5 fingerprint and (when
  * materialized) the hashed-shingle digests of kept rows — and every
  * later stage moves keys only. Loser lists within the driver budget
  * (`collectThreshold`) are read to the driver by one bounded `take`
  * and joined as LocalRelations (an empty list's join is pruned); no
  * action only sizes a list. A warm [[full]] call (minhash,
  * `materialize = true`) runs:
  *   - one eager localCheckpoint of the gophered document rows — the
  *     chain's only checkpoint of document rows. It keeps `text`: the
  *     survivors' scrub and scorer read it, and a text-free checkpoint
  *     would re-run html extraction for them;
  *   - stage 2's action: the shuffle map stages of the id count and of
  *     the fingerprint aggregate and join, then one `take`, in one task,
  *     that reads the repeated ids (rejected) and the exact losers (a
  *     list over the budget reads the repeated ids in a second `take`);
  *   - pair generation's shuffle map stages, then one `take` that fills
  *     the pair checkpoint (union-find on the driver);
  *   - one broadcast per join against a non-empty loser list;
  *   - the caller's action over the scored survivors.
  * On curbench `curate_dense` (1,200 docs, no duplicates, so no
  * broadcast) that is 11 jobs.
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

  /** MinHash band buckets are capped at this many documents. */
  private val MaxBucket = 64

  /** Columns the chain adds while labeling rows; input may not carry them. */
  val ReservedColumns =
    Seq("stage", "scrubbed", "__keep", "__stage", "__fp", "__sh", "__keeper", "__n", "__g")

  /** Shared chain plumbing: gopher-annotated frame + the loser list.
    *
    * Only keys move between the stages: each loser list (the exact
    * losers, then exact ∪ near) is a key-only `(idCol, stage)` frame
    * computed once, so while the lists fit the driver budget no exchange
    * of the chain carries the document text.
    *
    * @return (gophered, losers): `gophered` is `docs` plus a `__keep`
    *         gopher-keep boolean, the `__fp` fingerprint and (when
    *         materialized) the `__sh` digests; `losers` is (idCol, stage)
    *         for every document dropped by stage 2 or 3 — stage 2 losers
    *         never feed stage 3's pair generation.
    */
  private def chain(docs: DataFrame, idCol: String, textCol: String,
                    collectThreshold: Int, materialize: Boolean,
                    strategy: String): (DataFrame, DataFrame) = {
    Dedup.requireFree(docs, ReservedColumns)
    val pairsOf: DataFrame => DataFrame = strategy match {
      // exhaustive prefix-filtered all-pairs: every J ≥ t pair found —
      // the DuckDB-oracled configuration (q52). Output is inherently
      // quadratic in near-dup CLUSTER size, so this is the
      // sparse-duplication / oracle regime.
      case "exact" => Dedup.ngramDigestPairs(_, MinJaccard, MaxDf)
      // web-scale regime (what production crawl dedup runs): MinHash
      // band buckets propose candidates (bucket sizes capped and
      // observable — boilerplate mega-clusters stay near-linear), each
      // candidate exactly verified. Recall < 1 by construction: a missed
      // pair keeps an extra document (the safe direction).
      case "minhash" => Dedup.minhashDigestPairs(_, MinJaccard, MaxBucket)
      case other =>
        throw new IllegalArgumentException(
          s"unknown near-dup strategy '$other' (exact | minhash)")
    }
    val id = col(idCol)
    val text = col(textCol)
    // one pass computes every per-document value the chain needs: the
    // gopher keep bit, the exact-dedup fingerprint and, when
    // materialized, the shingle digests of kept rows.
    // gopher: one tokenizer pass per row (Let-bound inside gopherStats)
    // behind a Generate barrier — without it CollapseProject re-inlines
    // the tokenizer per field reference (the round-2 trap); only the keep
    // bit is carried forward (the signal fields are q51's surface).
    // null text ⇒ gopher-dropped, not silently kept: every gopher signal
    // is null on null input, so an un-coalesced keep bit would three-
    // valued-logic its way past BOTH the drop branch and the loser join
    // straight to 'kept' (and real crawls do carry null extractions)
    val gophered0 = ComputeOnce(docs, "__g", Heuristics.gopherStats(text))
      .withColumn("__keep", coalesce(col("__g.gopher_keep"), lit(false)))
      .drop("__g")
      .withColumn("__fp", Dedup.fingerprint(text))
    // materialize: the chain reads this frame from several branches
    // (id check, exact-dedup aggregate and join, pair candidates and
    // verification, final labeling) — each would re-run the upstream
    // scan + extraction + gopher pass. When the working set fits executor
    // storage (corpus ≪ memory), one eager localCheckpoint — the chain's
    // only checkpoint of document rows — replaces those re-evaluations,
    // and it carries the digests (`__sh`, behind their own Generate
    // barrier) so pair generation reads them instead of re-shingling. At
    // true 100-TB scale leave false — recomputing a narrow scan beats
    // writing a corpus-sized intermediate — and the digests are computed
    // at the pair step over exact survivors only (a carried Generate
    // would run the shingle kernel again in every later pass over the
    // frame). Blocks are freed by ContextCleaner when the frame is GC'd.
    val gophered =
      if (materialize) ComputeOnce(gophered0, "__sh",
        when(col("__keep"), Dedup.hashedShingles(text, ShingleN))).localCheckpoint()
      else gophered0
    val gopherKept = gophered.filter(col("__keep"))

    // stage 2: exact dedup — Dedup's loser operator over the carried
    // fingerprint (map-side-combinable min-id per fingerprint; shuffles
    // (id, fingerprint) only, never the text). The fingerprint's null-text
    // sentinel makes stage 2 correct on its own: today stage 1 already
    // drops null text, but stage 2 must not depend on stage 1's ordering.
    val exactKeys = Dedup.fingerprintLosers(gopherKept.select(id, col("__fp")), idCol)
      .select(id, lit(StageExactDup).as("stage"))
    // Every stage labels and joins by id alone, so a repeated id would put
    // one loser label on each row sharing it: the repeated ids are checked
    // in the action that reads the exact losers (key-only; over `docs`,
    // unmaterialized, parquet reads the id column alone).
    val repeatedIds = (if (materialize) gophered else docs)
      .groupBy(id).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1)
    val exactRows = exactLoserRows(repeatedIds, exactKeys, idCol, collectThreshold)
    val spark = docs.sparkSession
    // a list held on the driver is a LocalRelation (an empty one lets the
    // optimizer prune its join); a longer one is a lazy local checkpoint:
    // its first reader stores its blocks, so later joins read them
    // instead of re-running the dedup plan
    val exactLosers = exactRows
      .map(rows => spark.createDataFrame(rows.asJava, exactKeys.schema))
      .getOrElse(exactKeys.localCheckpoint(eager = false))

    // stage 3 input: exact-dedup survivors as an (id, sh) digest frame.
    // A driver-held list joins with a broadcast hint (its size estimate
    // alone broadcasts only the shorter lists): the join then runs in the
    // probe side's own partitions and never shuffles the document text (a
    // shuffled join moves the full-width frame, and AQE may coalesce that
    // shuffle, the scorer after it included, into one task). A hint on
    // anything but a join side (a union) is dropped with a warning, so
    // only join sides carry one.
    val exactKept = gopherKept.join(
      if (exactRows.isDefined) broadcast(exactLosers) else exactLosers,
      Seq(idCol), "left_anti")
    val digests =
      if (materialize) exactKept.select(id.as("id"), col("__sh").as("sh"))
      else Dedup.digestFrame(exactKept, idCol, textCol, ShingleN)
    val nearLosers = Dedup
      .connectedComponents(pairsOf(digests), "id_a", "id_b",
        collectThreshold = collectThreshold)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol), lit(StageNearDup).as("stage"))

    // disjoint by construction: near-dup pairs are generated among exact
    // KEEPERS only, so no id carries two loser labels. On the driver path
    // the components are a LocalRelation, so reading the near losers runs
    // no job, and both lists join as one broadcast LocalRelation.
    val onDriver = exactRows.flatMap { exact =>
      val rows = exact ++ nearLosers.take(upTo(collectThreshold - exact.length))
      if (rows.length <= collectThreshold) Some(rows) else None
    }
    val losers = onDriver
      .map(rows => broadcast(spark.createDataFrame(rows.asJava, exactKeys.schema)))
      .getOrElse(exactLosers.unionByName(nearLosers).localCheckpoint(eager = false))
    (gophered, losers)
  }

  /** Stage 2's action: one bounded `take(collectThreshold + 1)`, in one
    * task, over the repeated ids (`__n`, their count, set) and the exact
    * losers (`__n` null) both checks the ids and reads a loser list within
    * `collectThreshold` rows to the driver. It assumes no order of the
    * rows: when the take does not read the whole union (it stops at its
    * bound, or the threshold is 0 and it is not run), the list stays
    * distributed and the repeated ids are read on their own.
    *
    * @return the exact-loser rows (idCol, stage) when the list has at most
    *         `collectThreshold` rows, else None
    */
  private def exactLoserRows(repeatedIds: DataFrame, exactKeys: DataFrame, idCol: String,
                             collectThreshold: Int): Option[Seq[Row]] = {
    val n = upTo(collectThreshold)
    val rows =
      if (collectThreshold <= 0) Array.empty[Row]
      else repeatedIds.select(col(idCol), lit(null).cast("string").as("stage"), col("__n"))
        .unionByName(exactKeys.withColumn("__n", lit(null).cast("long")))
        .coalesce(1).take(n)
    val complete = collectThreshold > 0 && rows.length < n
    val (repeated, losers) = rows.partition(!_.isNullAt(2))
    repeated.headOption
      .orElse(if (complete) None else repeatedIds.take(1).headOption)
      .foreach { r =>
        throw new IllegalArgumentException(s"id column '$idCol' is not unique: " +
          s"value '${r.get(0)}' occurs ${r.getAs[Long]("__n")} times; deduplicate by it first")
      }
    if (complete) Some(losers.toSeq.map(r => Row(r.get(0), r.get(1)))) else None
  }

  /** The rows a bounded `take` reads to learn whether a list has at most
    * `n` rows.
    */
  private def upTo(n: Int): Int = math.min(n.toLong + 1, Int.MaxValue).toInt

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
    *        a loser list is read to the driver and broadcast to its joins
    *        when it has at most this many rows. Above it (or at 0) both
    *        stay distributed: the HashMin loop, a lazily checkpointed
    *        list and shuffled joins.
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
      .drop("__keep", "__fp", "__sh")
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
