package curbench

import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.curate.Curate
import graft.dedup.Dedup
import graft.derive.{BenchmarkBuilders, Derive, RlBuilder, UgBuilders}
import graft.functions.ComputeOnce
import graft.io.Manifest
import graft.lang.LangId
import graft.model.WebDoc
import graft.oracle.RefOracle
import graft.rules.Heuristics
import graft.score.{Perplexity, Score, Stages}
import graft.scrub.PiiScrub

/** A workload's inputs, materialized to parquet outside timing. */
final case class Prepared(main: String, warm: String, docs: Long, hash: String,
                          bytes: Long, truth: Option[String] = None)

final case class Check(name: String, ok: Boolean, detail: String = "")

/** Output checks plus an order-independent digest of the checked outputs. */
final case class Verdict(checks: Seq[Check], digest: String)

trait Workload {
  def name: String

  /** Generate this seed's inputs and write them under `dir`. */
  def prepare(spark: SparkSession, dir: String, seed: Long): Prepared

  /** One call over `input`, forced with an action. Returns the latencies
    * of the operations inside it, or Nil when the call is one operation.
    */
  def call(spark: SparkSession, input: String, out: String): Seq[Double]

  /** The first call over the full input, before the clock starts. Its
    * output, written under `out`, is what [[verify]] checks.
    */
  def prime(spark: SparkSession, p: Prepared, out: String): Unit =
    call(spark, p.main, out)

  /** The warm-up pass of set-up: one call over the small warm input. */
  def warmup(spark: SparkSession, p: Prepared, out: String): Unit =
    call(spark, p.warm, out)

  def verify(spark: SparkSession, p: Prepared, primed: String, work: String): Verdict

  /** Seconds of unmeasured calls between the prime call and the timed
    * loop, while the JIT still speeds calls up: score_bulk calls get about
    * 20% faster over their first 12 s, curate_dense calls about 25% over
    * their first 20 s.
    */
  def warmSeconds: Double = 12

  /** Operations in one call (a failed call fails all of them). */
  def opsPerCall: Int = 1

  /** Whether the call must write no shuffle bytes (checked). */
  def shuffleFree: Boolean = false

  /** Restart any per-call rotation. */
  def reset(): Unit = ()

  /** Layer spans over materialized inputs; returns per-layer metrics and
    * the span of the call the spark.* metrics and the trace overhead
    * describe.
    */
  def layers(spark: SparkSession, p: Prepared, work: String,
             tr: Tracer): (Map[String, Double], Seq[Span])
}

object Workloads {

  val all: Seq[Workload] = Seq(ScoreBulk, CurateDense, CurateSparse, DeriveBatches)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (${all.map(_.name).mkString(" | ")})"))

  // ---------------------------------------------------------------- helpers

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def materialize(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Deals row indices `0 until sizes.length` into `parts` groups of equal
    * count and near-equal total size: largest first, in snake order. Each
    * group keeps its rows in input order.
    */
  def balancedGroups(sizes: IndexedSeq[Long], parts: Int): Seq[IndexedSeq[Int]] = {
    val bySize = sizes.indices.sortBy(i => (-sizes(i), i))
    val group = new Array[Int](sizes.length)
    bySize.zipWithIndex.foreach { case (i, r) =>
      val lap = r / parts
      group(i) = if (lap % 2 == 0) r % parts else parts - 1 - r % parts
    }
    (0 until parts).map(g => sizes.indices.filter(group(_) == g))
  }

  def writeDocs(spark: SparkSession, docs: IndexedSeq[WebDoc], path: String): Unit = {
    import spark.implicits._
    // ~4 input splits per core (see Main.session), one file each. Files of
    // consecutive rows would differ in bytes by up to 2x, as the 20k-char
    // documents fall, and the slowest file would set a call's wall time
    // differently for every seed; so every file gets the same length mix.
    val parts = math.max(1, math.min(4 * Main.Cores, docs.length / 100))
    val groups = balancedGroups(docs.map(_.html.length.toLong), parts)
    spark.createDataset(spark.sparkContext.parallelize(
      groups.map(g => g.map(docs)), parts).flatMap(identity))
      .write.mode("overwrite").parquet(path)
  }

  def prepareDocs(spark: SparkSession, dir: String, docs: IndexedSeq[WebDoc],
                  warmDocs: Int = 100): Prepared = {
    writeDocs(spark, docs, s"$dir/main")
    writeDocs(spark, docs.take(warmDocs), s"$dir/warm")
    Prepared(s"$dir/main", s"$dir/warm", docs.length, Inputs.contentHash(docs),
      docs.map(_.html.length.toLong).sum)
  }

  private def md5(s: String): Array[Byte] =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))

  /** Sum of the rows' md5 prefixes plus the row count: equal for equal row
    * multisets, whatever the partitioning or order.
    */
  def digest(rows: Iterable[String]): String = {
    var acc = 0L
    var n = 0L
    rows.foreach { r =>
      acc += java.nio.ByteBuffer.wrap(md5(r), 0, 8).getLong
      n += 1
    }
    f"$n%d-$acc%016x"
  }

  def rowString(r: Row): String = r.toSeq.map {
    case null => "␀"
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case s: scala.collection.Seq[_] => s.mkString("[", "␟", "]")
    case x => x.toString
  }.mkString("␞")

  /** Deterministic ~1-in-`k` url sample that does not depend on the code
    * under test.
    */
  def sampled(url: String, k: Int): Boolean = (md5(url)(0) & 0xff) % k == 0

  /** Compare output rows with RefOracle on keep, overall_score and the
    * scrubbed text (byte for byte), over a url sample of the raw input.
    */
  def oracleCheck(spark: SparkSession, rawPath: String,
                  out: Map[String, (Boolean, Double, String)], k: Int): Check = {
    val urls = out.keys.filter(sampled(_, k)).toSeq
    val raw = spark.read.parquet(rawPath)
      .filter(col("url").isin(urls: _*)).select("url", "html").collect()
    val bad = raw.flatMap { r =>
      val url = r.getString(0)
      val ref = RefOracle.assess(url, r.getAs[Array[Byte]](1))
      val (keep, score, scrubbed) = out(url)
      if (ref.ref_keep == keep && math.abs(ref.ref_score - score) <= 1e-12 &&
        ref.ref_scrubbed == scrubbed) None else Some(url)
    }
    Check("oracle_sample", raw.nonEmpty && bad.isEmpty,
      s"${raw.length} sampled, ${bad.length} differ ${bad.take(3).mkString(" ")}")
  }

  def extracted(raw: DataFrame): DataFrame =
    raw.withColumn("text", call_function("graft_extract_clean", col("html"))).drop("html")

  def fracOf(df: DataFrame, cond: Column): Double = {
    val r = df.agg(count(lit(1)), sum(when(cond, 1L).otherwise(0L))).head()
    if (r.getLong(0) == 0) 0.0 else r.getLong(1).toDouble / r.getLong(0)
  }

  val MB: Double = 1024.0 * 1024.0

  // -------------------------------------------------- the scoring layers

  /** Pipeline.score's per-document layers, each its own span over a
    * materialized input: extract, lang, rules.stats, score.ppl,
    * score.stages, scrub, then the fused call. Returns the metrics and the
    * fused span.
    */
  def scoreLayers(spark: SparkSession, rawPath: String, work: String,
                  tr: Tracer): (Map[String, Double], Span) = {
    val raw = spark.read.parquet(rawPath)
    val htmlMb = raw.agg(sum(length(col("html")))).head().getLong(0) / MB
    val (_, sExt) = tr.span("extract")(noop(extracted(raw)))
    val ext = materialize(extracted(raw), s"$work/l_extract")

    def langDf(d: DataFrame) = LangId.withLangNgram(d, "text", "lang", spark)
    val (_, sLang) = tr.span("lang")(noop(langDf(ext)))
    val withLang = materialize(langDf(ext), s"$work/l_lang")

    def statsDf(d: DataFrame) = d
      .withColumn("__ts", call_function("graft_token_stats", col("text")))
      .withColumn("__pc", call_function("graft_pattern_counts", col("text")))
      .withColumn("stats", Heuristics.textStatsFused(col("text"), col("__ts"), col("__pc")))
      .drop("__ts", "__pc")
      .withColumn("eligible", Pipeline.eligible(col("text"), col("url"), 300))
    val (_, sStats) = tr.span("rules.stats")(noop(statsDf(withLang)))
    val stats = materialize(statsDf(withLang)
      .withColumn("sophistication", Stages.sophistication(
        col("stats.physics_density"), col("stats.equation_count"),
        col("stats.reference_count"), col("stats.word_count")))
      .withColumn("stage1_pass", col("eligible") && Stages.stage1Pass(col("sophistication"))),
      s"$work/l_stats")

    def pplDf(d: DataFrame) = d.withColumn("ppl",
      when(col("stage1_pass"), call_function("graft_perplexity", col("text")))
        .otherwise(lit(Perplexity.MaxPpl)))
    val (_, sPpl) = tr.span("score.ppl")(noop(pplDf(stats)))
    val ppl = materialize(pplDf(stats), s"$work/l_ppl")

    def stagesDf(d: DataFrame) = d
      .withColumn("dim_math_errors",
        Stages.dimMathErrors(col("stats.math_expressions"), col("stats.word_count")))
      .withColumn("dim_physics_assumptions", Stages.dimPhysicsAssumptions(col("text")))
      .withColumn("dim_logical_consistency", Stages.dimLogicalConsistency(col("ppl"), col("text")))
      .withColumn("dim_literature_integration",
        Stages.dimLiteratureIntegration(col("stats.reference_count"), col("text")))
      .withColumn("avg_stage2", Stages.avgStage2(col("dim_math_errors"),
        col("dim_physics_assumptions"), col("dim_logical_consistency"),
        col("dim_literature_integration")))
      .withColumn("recommendation",
        Stages.recommendation(col("stage1_pass"), col("sophistication"), col("avg_stage2")))
      .withColumn("overall_score", Score.overall(col("stage1_pass"), col("sophistication"),
        col("avg_stage2"), col("recommendation")))
      .withColumn("keep", Score.keep(col("overall_score")))
    val (_, sStages) = tr.span("score.stages")(noop(stagesDf(ppl)))
    val keepFrac = fracOf(stagesDf(ppl), col("keep"))

    def scrubDf(d: DataFrame) = d.withColumn("scrubbed", PiiScrub.scrub(col("text")))
    val (_, sScrub) = tr.span("scrub")(noop(scrubDf(ext)))
    val changed = fracOf(scrubDf(ext), col("scrubbed") =!= col("text"))

    val (_, sFused) = tr.span("score.fused")(noop(Pipeline.score(raw, spark)))
    val isolated = Seq(sExt, sLang, sStats, sPpl, sStages, sScrub).map(tr.selfS).sum
    (Map(
      "extract.self_s" -> tr.selfS(sExt),
      "extract.mb_per_s" -> htmlMb / tr.selfS(sExt),
      "lang.self_s" -> tr.selfS(sLang),
      "lang.en_frac" -> fracOf(withLang, col("lang") === "en"),
      "rules.stats.self_s" -> tr.selfS(sStats),
      "rules.eligible_frac" -> fracOf(stats, col("eligible")),
      "score.ppl.self_s" -> tr.selfS(sPpl),
      "score.ppl.gate_frac" -> fracOf(stats, col("stage1_pass")),
      "score.stages.self_s" -> tr.selfS(sStages),
      "score.keep_frac" -> keepFrac,
      "score.fusion_ratio" -> isolated / tr.selfS(sFused),
      "scrub.self_s" -> tr.selfS(sScrub),
      "scrub.changed_frac" -> changed), sFused)
  }

  // ------------------------------------------------- the curation layers

  final case class ChainParams(strategy: String, materialize: Boolean)

  def curateFull(spark: SparkSession, raw: DataFrame, cp: ChainParams): DataFrame =
    Curate.full(raw, spark, strategy = cp.strategy, materialize = cp.materialize)

  /** The chain's layers as spans over materialized inputs (extract, the
    * gopher rules, exact dedup, pair generation, components), then
    * Curate.full as one call.
    */
  def curateLayers(spark: SparkSession, rawPath: String, work: String,
                   tr: Tracer, cp: ChainParams): (Map[String, Double], Span) = {
    val sc = spark.sparkContext
    val raw = spark.read.parquet(rawPath)
    val n = raw.count().toDouble
    val htmlMb = raw.agg(sum(length(col("html")))).head().getLong(0) / MB
    val (_, sExt) = tr.span("extract")(noop(extracted(raw)))
    val ext = materialize(extracted(raw), s"$work/c_extract")

    def gopherDf(d: DataFrame) = ComputeOnce(d, "__g", Heuristics.gopherStats(col("text")))
      .withColumn("gopher_keep", coalesce(col("__g.gopher_keep"), lit(false))).drop("__g")
    val (_, sGopher) = tr.span("rules.gopher")(noop(gopherDf(ext)))
    val gophered = materialize(gopherDf(ext), s"$work/c_gopher")
    val gKept = materialize(gophered.filter(col("gopher_keep")).drop("gopher_keep"),
      s"$work/c_gkept")
    val nKept = gKept.count()

    def exactDf(d: DataFrame) = Dedup.exactSurvivors(d, "url", "text")
    val (_, sExact) = tr.span("dedup.exact")(noop(exactDf(gKept)))
    val exact = materialize(exactDf(gKept), s"$work/c_exact")
    val nExact = exact.count()

    def pairsDf(d: DataFrame) = cp.strategy match {
      case "minhash" => Dedup.minhashPairs(d, "url", "text", shingleN = 3,
        threshold = 0.8, materialize = cp.materialize)
      case _ => Dedup.ngramJaccardPairs(d, "url", "text", n = 3, minJaccard = 0.8,
        maxDf = 10000, materialize = cp.materialize)
    }
    val (_, sPairs) = tr.span("dedup.pairs")(noop(pairsDf(exact)))
    val pairs = materialize(pairsDf(exact), s"$work/c_pairs")
    val nPairs = pairs.count()
    val candidates = sPairs.queries.flatMap(_.joinRows).foldLeft(0L)(math.max)
    val capped = sPairs.queries.flatMap(_.observed).collect {
      case ("minhash_bucket_cap", r) => r.getAs[Long]("dropped_ids")
      case ("ngram_df_cap", r) => r.getAs[Long]("dropped_postings")
    }.sum

    def ccDf(d: DataFrame) = Dedup.connectedComponents(d, "id_a", "id_b")
    val (_, sCc) = tr.span("dedup.components")(noop(ccDf(pairs)))
    val nearDropped = ccDf(pairs).filter(col("id") =!= col("component")).count()

    var checkpointMb = 0.0
    val (_, sCurate) = tr.span("curate") {
      noop(curateFull(spark, raw, cp))
      checkpointMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MB
    }
    val log = Curate.curationLog(ext, "url", "text", strategy = cp.strategy,
      materialize = cp.materialize)
      .groupBy("stage").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val cAcc = tr.totalAcc(sCurate)
    val dedupSpans = Seq(sExact, sPairs, sCc)
    (Map(
      "extract.self_s" -> tr.selfS(sExt),
      "extract.mb_per_s" -> htmlMb / tr.selfS(sExt),
      "rules.gopher.self_s" -> tr.selfS(sGopher),
      "rules.gopher.keep_frac" -> nKept / n,
      "dedup.exact.self_s" -> tr.selfS(sExact),
      "dedup.exact.dropped" -> (nKept - nExact).toDouble,
      "dedup.pairs.self_s" -> tr.selfS(sPairs),
      "dedup.pairs.candidates" -> candidates.toDouble,
      "dedup.pairs.verified" -> nPairs.toDouble,
      "dedup.pairs.yield" -> (if (candidates == 0) 0.0 else nPairs.toDouble / candidates),
      "dedup.pairs.capped" -> capped.toDouble,
      "dedup.components.self_s" -> tr.selfS(sCc),
      "dedup.components.edges" -> nPairs.toDouble,
      "dedup.near.dropped" -> nearDropped.toDouble,
      "dedup.shuffle_mb" -> dedupSpans.map(s => tr.totalAcc(s).shuffleWrite).sum / MB,
      "curate.self_s" -> tr.selfS(sCurate),
      "curate.jobs" -> cAcc.jobs.toDouble,
      "curate.stages" -> cAcc.stages.toDouble,
      "curate.tasks" -> cAcc.tasks.toDouble,
      "curate.checkpoint_mb" -> checkpointMb,
      "curate.idle_core_frac" -> (1.0 - cAcc.runS / (sCurate.wallS * Main.Cores)),
      "curate.kept_frac" -> log.getOrElse(Curate.StageKept, 0L) / n,
      "curate.dropped.gopher" -> log.getOrElse(Curate.StageGopher, 0L).toDouble,
      "curate.dropped.exact_dup" -> log.getOrElse(Curate.StageExactDup, 0L).toDouble,
      "curate.dropped.near_dup" -> log.getOrElse(Curate.StageNearDup, 0L).toDouble), sCurate)
  }

  /** Checks on Curate.full's output (written by the prime call) and on the
    * curation log of the same raw input; returns the checks, the digest
    * rows and the stage per url.
    */
  def curateChecks(spark: SparkSession, p: Prepared, primed: String,
                   cp: ChainParams): (Seq[Check], Seq[String], Map[String, String]) = {
    val raw = spark.read.parquet(p.main)
    val full = spark.read.parquet(primed)
      .select("url", "text", "keep", "overall_score", "scrubbed_text").collect()
    val log = Curate.curationLog(extracted(raw), "url", "text",
      strategy = cp.strategy, materialize = cp.materialize)
      .select("url", "stage").collect().map(r => r.getString(0) -> r.getString(1))
    val stageOf = log.toMap
    val keptUrls = log.collect { case (u, Curate.StageKept) => u }.toSet
    val fullUrls = full.map(_.getString(0))
    val fps = full.map(r => md5(Option(r.getString(1)).getOrElse("␀")).toSeq)
    val known = Set(Curate.StageGopher, Curate.StageExactDup, Curate.StageNearDup,
      Curate.StageKept)
    val counts = log.groupBy(_._2).map { case (k, v) => k -> v.length }
    val checks = Seq(
      Check("log_partitions_input", log.length == p.docs && stageOf.size == p.docs &&
        log.forall(l => known(l._2)), s"${log.length} log rows, ${stageOf.size} urls, " +
        s"${p.docs} docs, stages $counts"),
      Check("kept_urls_unique", fullUrls.distinct.length == fullUrls.length,
        s"${fullUrls.length} rows"),
      Check("kept_matches_log", fullUrls.toSet == keptUrls,
        s"${fullUrls.toSet.size} full vs ${keptUrls.size} log"),
      Check("kept_text_fingerprints_unique", fps.distinct.length == fps.length,
        s"${fps.length - fps.distinct.length} shared md5"),
      oracleCheck(spark, p.main, full.map(r => r.getString(0) ->
        (r.getBoolean(2), r.getDouble(3), r.getString(4))).toMap, 32))
    val rows = full.map(r => "full␞" + rowString(r)) ++
      log.map { case (u, s) => s"log␞$u␞$s" }
    (checks, rows.toSeq, stageOf)
  }

  // ----------------------------------------------------------- workloads

  object ScoreBulk extends Workload {
    val name = "score_bulk"
    /** Shared with curate_dense. The chain's last stage (the scorer over
      * the survivors) runs as one task up to about 1,600 docs, as 1 or 2
      * tasks at 2,000 (by seed, as AQE coalesces it), and as 3 or 4 at
      * 4,000; a size where every seed gets the same task count keeps that
      * choice out of the spread.
      */
    val docs = 1200
    override val shuffleFree = true
    val DeriveDocs = 120
    val DeriveBuckets = 2

    def prepare(spark: SparkSession, dir: String, seed: Long): Prepared =
      prepareDocs(spark, dir, Inputs.synth(seed, docs))

    def call(spark: SparkSession, input: String, out: String): Seq[Double] = {
      noop(Pipeline.score(spark.read.parquet(input), spark))
      Nil
    }

    override def prime(spark: SparkSession, p: Prepared, out: String): Unit =
      Pipeline.score(spark.read.parquet(p.main), spark).write.parquet(out)

    def verify(spark: SparkSession, p: Prepared, primed: String, work: String): Verdict = {
      val out = spark.read.parquet(primed)
        .select("url", "keep", "overall_score", "scrubbed_text").collect()
      val urls = out.map(_.getString(0))
      val checks = Seq(
        Check("one_row_per_doc", out.length == p.docs && urls.distinct.length == p.docs,
          s"${out.length} rows, ${urls.distinct.length} urls, ${p.docs} docs"),
        oracleCheck(spark, p.main, out.map(r => r.getString(0) ->
          (r.getBoolean(1), r.getDouble(2), r.getString(3))).toMap, 32))
      Verdict(checks, digest(out.map(rowString)))
    }

    def layers(spark: SparkSession, p: Prepared, work: String,
               tr: Tracer): (Map[String, Double], Seq[Span]) = {
      val (m, fused) = scoreLayers(spark, p.main, work, tr)
      // the derived-dataset builders over the scored head of this corpus
      val scored = s"$work/scored_head"
      DeriveBatches.scoredCorpus(spark,
        spark.read.parquet(p.main).orderBy("url").limit(DeriveDocs), scored)
      val (d, _) = DeriveBatches.deriveLayers(spark, scored, work, tr, DeriveBuckets)
      (m ++ d, Seq(fused))
    }
  }

  class CurateWorkload(val name: String, val docs: Int, cp: ChainParams,
                       sparse: Boolean) extends Workload {
    override val warmSeconds: Double = 20

    def prepare(spark: SparkSession, dir: String, seed: Long): Prepared =
      if (!sparse) prepareDocs(spark, dir, Inputs.synth(seed, docs))
      else {
        val (ds, truth) = SparseCorpus.generate(seed, docs)
        import spark.implicits._
        spark.createDataset(truth).coalesce(1).write.mode("overwrite").parquet(s"$dir/truth")
        prepareDocs(spark, dir, ds).copy(truth = Some(s"$dir/truth"))
      }

    def call(spark: SparkSession, input: String, out: String): Seq[Double] = {
      noop(curateFull(spark, spark.read.parquet(input), cp))
      Nil
    }

    override def prime(spark: SparkSession, p: Prepared, out: String): Unit =
      curateFull(spark, spark.read.parquet(p.main), cp).write.parquet(out)

    def verify(spark: SparkSession, p: Prepared, primed: String, work: String): Verdict = {
      val (checks, rows, stageOf) = curateChecks(spark, p, primed, cp)
      val planted = p.truth.toSeq.flatMap { t =>
        import spark.implicits._
        val truth = spark.read.parquet(t).as[Planted].collect().toSeq
        val plantedUrls = truth.flatMap(x => Seq(x.copyUrl, x.srcUrl)).toSet
        val dupStages = Set(Curate.StageExactDup, Curate.StageNearDup)
        val bothKept = truth.filter(x => stageOf(x.copyUrl) == Curate.StageKept &&
          stageOf(x.srcUrl) == Curate.StageKept)
        // both copies past the gopher rules: dedup must drop exactly one
        val missed = truth.filter(x => stageOf(x.copyUrl) != Curate.StageGopher &&
          stageOf(x.srcUrl) != Curate.StageGopher &&
          Seq(x.copyUrl, x.srcUrl).count(u => stageOf(u) == Curate.StageKept) != 1)
        val falseDrops = stageOf.filter { case (u, s) => dupStages(s) && !plantedUrls(u) }
        Seq(
          Check("planted_not_both_kept", bothKept.isEmpty, s"${bothKept.length} of ${truth.length}"),
          Check("planted_one_survivor", missed.isEmpty, s"${missed.length} of ${truth.length}"),
          Check("unplanted_never_dup_dropped", falseDrops.isEmpty,
            s"${falseDrops.size} ${falseDrops.keys.take(3).mkString(" ")}"))
      }
      Verdict(checks ++ planted, digest(rows))
    }

    def layers(spark: SparkSession, p: Prepared, work: String,
               tr: Tracer): (Map[String, Double], Seq[Span]) = {
      val (m, s) = curateLayers(spark, p.main, work, tr, cp)
      (m, Seq(s))
    }
  }

  object CurateDense extends CurateWorkload("curate_dense", ScoreBulk.docs,
    ChainParams("minhash", materialize = true), sparse = false)

  object CurateSparse extends CurateWorkload("curate_sparse", 2000,
    ChainParams("exact", materialize = false), sparse = true)

  object DeriveBatches extends Workload {
    val name = "derive_batches"
    val docs = 400
    val Buckets = 4
    override val opsPerCall: Int = Buckets

    val Subjects: Seq[String] = Seq("Classical Mechanics", "Quantum Physics",
      "Thermodynamics", "Relativity and Gravity", "High Energy Physics")
    val Title = "3 Pages. A Study of Planted Physics Fragments"

    /** The derived-dataset builders, in call order. */
    val builders: Seq[(String, DataFrame => DataFrame)] = Seq(
      "trainingExamples" -> (d => Derive.trainingExamples(d, "url", "text", "subject")),
      "benchmarkItems" -> (d => Derive.benchmarkItems(d, "url", "text", "subject",
        "title", "abstract")),
      "benchmarkItemsV2" -> (d => BenchmarkBuilders.benchmarkItemsV2(d, "url", "text", "subject")),
      "benchmarkItemsV3" -> (d => BenchmarkBuilders.benchmarkItemsV3(d, "url", "text", "subject")),
      "rlTrainingExamples" -> (d => RlBuilder.rlTrainingExamples(d, "url", "text",
        "subject", "title")),
      "rlTrainingExamplesV3" -> (d => RlBuilder.rlTrainingExamplesV3(d, "url", "text",
        "subject", "title")),
      "ugBenchmarkItems" -> (d => UgBuilders.ugBenchmarkItems(d, "url", "text",
        "subject", "title", "abstract")),
      "ugTrainingExamples" -> (d => UgBuilders.ugTrainingExamples(d, "url", "text",
        "subject", "title")))

    /** The scored corpus the builders read: Pipeline.score's columns plus
      * a deterministic subject, a title and an abstract.
      */
    def scoredCorpus(spark: SparkSession, raw: DataFrame, path: String): Unit =
      Pipeline.score(raw, spark)
        .select("url", "text", "sophistication", "avg_stage2", "recommendation",
          "overall_score", "keep", "issues")
        .withColumn("subject", element_at(array(Subjects.map(lit): _*),
          (pmod(xxhash64(col("url")), lit(Subjects.length.toLong)) + 1).cast("int")))
        .withColumn("title", lit(Title))
        .withColumn("abstract", substring(col("text"), 1, 1200))
        .write.mode("overwrite").parquet(path)

    def prepare(spark: SparkSession, dir: String, seed: Long): Prepared = {
      val raw = prepareDocs(spark, dir, Inputs.synth(seed, docs), warmDocs = 40)
      scoredCorpus(spark, spark.read.parquet(raw.main), s"$dir/scored")
      scoredCorpus(spark, spark.read.parquet(raw.warm), s"$dir/scored_warm")
      raw.copy(main = s"$dir/scored", warm = s"$dir/scored_warm")
    }

    private var next = 0
    private val written = scala.collection.mutable.ArrayBuffer.empty[(String, String)]

    /** Every builder once over the warm input; the call order restarts. */
    override def warmup(spark: SparkSession, p: Prepared, out: String): Unit = {
      val in = spark.read.parquet(p.warm)
      builders.foreach { case (_, b) => noop(b(in)) }
      reset()
    }

    override def reset(): Unit = next = 0

    /** One builder over every bucket through Manifest.runBucketed; one
      * operation is one bucket, timed from the builder's invocation for
      * that bucket to the next one's (write, read-back and manifest commit
      * included).
      */
    def call(spark: SparkSession, input: String, out: String): Seq[Double] = {
      val (bname, builder) = builders(next % builders.length)
      next += 1
      written += bname -> s"$out/$bname"
      runBuilder(spark, input, s"$out/$bname", builder)
    }

    def runBuilder(spark: SparkSession, input: String, out: String,
                   builder: DataFrame => DataFrame, buckets: Int = Buckets): Seq[Double] = {
      val marks = scala.collection.mutable.ArrayBuffer.empty[Long]
      Manifest.runBucketed(spark, spark.read.parquet(input), out, "url", buckets) { part =>
        marks += System.nanoTime()
        builder(part)
      }
      marks += System.nanoTime()
      marks.toSeq.zip(marks.toSeq.drop(1)).map { case (a, b) => (b - a) / 1e9 }
    }

    /** Checks every builder's output over the whole scored corpus (direct
      * collect, deterministic, feeds the digest) and the bucket outputs the
      * timed calls committed (all buckets present, schema equal to the
      * builder's).
      */
    def verify(spark: SparkSession, p: Prepared, primed: String, work: String): Verdict = {
      val in = spark.read.parquet(p.main)
      def shape(st: org.apache.spark.sql.types.StructType) =
        st.fields.map(f => f.name -> f.dataType.simpleString).toSeq
      val direct = builders.map { case (bname, builder) =>
        val rows = builder(in).collect()
        (bname, rows, Check(s"$bname.non_empty", rows.nonEmpty, s"${rows.length} rows"))
      }
      val committed = written.toSeq.flatMap { case (bname, out) =>
        val expected = shape(builders.toMap.apply(bname)(in).schema)
        val done = Manifest.committedBuckets(spark, out)
        val schemas = (0 until Buckets).filter(b => done(b.toLong)).map(b =>
          shape(spark.read.parquet(Manifest.bucketPath(out, b)).schema))
        Seq(Check(s"$bname.all_buckets_committed", done.size == Buckets,
            s"$out: ${done.toSeq.sorted.mkString(",")}"),
          Check(s"$bname.stable_schema", schemas.forall(_ == expected), out))
      }
      written.clear()
      Verdict(direct.map(_._3) ++ committed,
        digest(direct.flatMap { case (b, rows, _) => rows.map(r => b + "␞" + rowString(r)) }))
    }

    def layers(spark: SparkSession, p: Prepared, work: String,
               tr: Tracer): (Map[String, Double], Seq[Span]) =
      deriveLayers(spark, p.main, work, tr, Buckets)

    /** Each builder as a span over the materialized scored corpus (forced
      * with a noop write), then through Manifest.runBucketed with `buckets`
      * buckets as an io span. io.write_s is what the bucketed, written and
      * committed run costs beyond the builder alone.
      */
    def deriveLayers(spark: SparkSession, scored: String, work: String, tr: Tracer,
                     buckets: Int): (Map[String, Double], Seq[Span]) = {
      val in = spark.read.parquet(scored)
      val spans = builders.map { case (bname, builder) =>
        val (_, sb) = tr.span(s"derive.$bname")(noop(builder(in)))
        val out = s"$work/l_derive/$bname"
        val (_, sio) = tr.span(s"io.$bname")(runBuilder(spark, scored, out, builder, buckets))
        val rows = Manifest.readCommitted(spark, out).count()
        (sb, sio, rows)
      }
      val dAcc = Acc.sum(spans.map(s => tr.totalAcc(s._1)))
      val ioJobs = spans.map(s => tr.totalAcc(s._2).jobs).sum
      (Map(
        "derive.self_s" -> spans.map(s => tr.selfS(s._1)).sum,
        "derive.rows_out" -> spans.map(_._3).sum.toDouble,
        "derive.task_init_s" -> dAcc.initS,
        "derive.task_init_frac" -> (if (dAcc.runMs == 0) 0.0 else dAcc.initS / dAcc.runS),
        "io.write_s" -> spans.map(s => s._2.wallS - s._1.wallS).sum,
        "io.jobs_per_bucket" -> ioJobs.toDouble / (buckets * builders.length)),
        spans.map(_._2))
    }
  }
}
