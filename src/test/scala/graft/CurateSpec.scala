package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.curate.Curate
import graft.dedup.Dedup

/** The composed curation chain: stage attribution on planted documents,
  * cheap-first ORDER semantics (a gopher-dropped document never enters
  * dedup; an exact-dup loser never enters pair generation), scrub only on
  * kept rows, and the face equivalences (curated ≡ curationLog-kept;
  * full ≡ curate-then-score).
  */
class CurateSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** Shuffle exchanges in `df`'s executed (final adaptive) plan whose
    * output carries the `text` column; call after an action on `df`.
    */
  private def textShuffles(df: DataFrame) =
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeLike if e.output.exists(_.name == "text") => e
    }

  /** (action name, query) of every query that finishes while `body` runs
    * — including the chain's own checkpoint and take queries.
    */
  private def queriesOf[T](body: => T): (T, Seq[(String, QueryExecution)]) = {
    val queries = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        queries.add(funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = body
      org.apache.spark.ListenerDrain(spark.sparkContext)
      (out, queries.toArray(Array.empty[(String, QueryExecution)]).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Executed plans (as strings) of every query that finishes while
    * `body` runs — including the chain's own checkpoint queries.
    */
  private def plansOfEveryQuery[T](body: => T): (T, Seq[String]) = {
    val (out, queries) = queriesOf(body)
    (out, queries.map(_._2.executedPlan.toString))
  }

  /** The number of Spark jobs `body` starts, counted in a job group of its
    * own.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"curate-spec-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try {
      val out = body
      org.apache.spark.ListenerDrain(sc)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Calls of the shingle kernel (`HashedShingles.compute`) in each row
    * pass of an executed plan: a pass is the operators between two
    * exchanges (a union's branches are passes of their own rows).
    */
  private def shingleCallsPerPass(plan: SparkPlan): Seq[Int] = {
    def calls(p: SparkPlan): Int = p.expressions.map(_.collect {
      case s: StaticInvoke if s.staticObject.getName == "graft.dedup.HashedShingles" => 1
    }.sum).sum
    def boundary(p: SparkPlan): Boolean = p match {
      case _: Exchange | _: QueryStageExec | _: ReusedExchangeExec => true
      case _ => false
    }
    def pass(p: SparkPlan): Int = calls(p) + (p match {
      case u: UnionExec => (0 +: u.children.filterNot(boundary).map(pass)).max
      case _ => p.children.filterNot(boundary).map(pass).sum
    })
    val top = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // a final adaptive plan's top is its result stage
    val result = top match {
      case s: QueryStageExec => s.plan
      case p => p
    }
    pass(result) +: collect(plan) { case e: Exchange => e.child }.map(pass)
  }

  /** `docs` (by default the planted corpus) as raw crawl rows in a
    * parquet directory (the shape `Curate.full` reads), for the duration
    * of `body`.
    */
  private def withRawParquet[T](body: String => T): T = withRawParquet(corpus)(body)

  private def withRawParquet[T](docs: DataFrame)(body: String => T): T = {
    val dir = Files.createTempDirectory("graft-curate").toFile
    try {
      rawOf(docs).write.parquet(s"$dir/raw")
      body(s"$dir/raw")
    } finally FileUtils.deleteDirectory(dir)
  }

  /** `docs` html-wrapped the way the flagship wraps the driver's table. */
  private def rawOf(docs: DataFrame): DataFrame = docs.select(
    concat(lit("https://t.example.org/doc/"), col("doc_id")).as("url"),
    to_timestamp(lit("2026-01-01 00:00:00")).as("warc_ts"),
    encode(concat(lit("<html><head><title>t</title></head><body><p>"),
      col("text"), lit("</p></body></html>")), "UTF-8").as("html"))

  /** ~40 natural-looking words with a seeded shuffle — passes every
    * gopher gate and shares no 3-gram run with other seeds' docs.
    */
  private def prose(seed: Int): String = {
    val vocab = Seq("the", "quick", "engine", "reads", "a", "column", "and",
      "writes", "batches", "of", "rows", "to", "storage", "for", "later",
      "analysis", "with", "careful", "ordering", "that", "keeps", "costs",
      "low", "in", "practice")
    val rnd = new scala.util.Random(seed)
    Seq.fill(40)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
  }

  // Planted corpus (ids chosen so every keeper is the cluster MIN):
  //  1: prose A                      -> kept
  //  2: exact copy of 1              -> exact_dup (keeper is 1)
  //  3: exact copy of 1              -> exact_dup (3-way exact cluster)
  //  4: prose B                      -> kept
  //  5: near-dup of 4 (tail tweak)   -> near_dup (keeper is 4)
  //  6: symbol-heavy                 -> gopher (symbol_ratio > 0.3)
  //  7: near-dup of 6's prose core BUT 6 is gopher-dropped -> kept
  //     (cheap-first: 6 never enters pair generation)
  //  8: prose C with an email        -> kept, scrubbed to <EMAIL>
  //  9: too short                    -> gopher (min length)
  private val proseA = prose(1)
  private val proseB = prose(2)
  private val proseCore6 = prose(3)
  private lazy val corpus = Seq(
    (1L, proseA),
    (2L, proseA),
    (3L, proseA),
    (4L, proseB),
    (5L, proseB + " with one extra tail"),
    (6L, proseCore6 + " " + ("@#$%&*!@#$%&*!" * 14)),
    (7L, proseCore6),
    (8L, prose(4) + " contact me at jane.doe@example.org thanks"),
    (9L, "too short"),
    (10L, null.asInstanceOf[String]) // null extraction -> gopher-dropped
  ).toDF("doc_id", "text")

  private lazy val log = Curate
    .curationLog(corpus, "doc_id", "text")
    .collect()
    .map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
    .toMap

  test("every input document gets exactly one stage row") {
    assert(log.keySet == (1L to 10L).toSet)
  }

  test("stage attribution: gopher, exact_dup, near_dup, kept") {
    assert(log(1L)._1 == Curate.StageKept)
    assert(log(2L)._1 == Curate.StageExactDup)
    assert(log(3L)._1 == Curate.StageExactDup)
    assert(log(4L)._1 == Curate.StageKept)
    assert(log(5L)._1 == Curate.StageNearDup)
    assert(log(6L)._1 == Curate.StageGopher)
    assert(log(9L)._1 == Curate.StageGopher)
    // null text: every gopher signal is null — without the coalesced
    // keep bit this row sailed through three-valued logic to 'kept'
    assert(log(10L)._1 == Curate.StageGopher)
    assert(log(10L)._2 == null)
  }

  test("cheap-first order: a near-dup of a gopher-DROPPED doc is kept") {
    // 7 shares ~all 3-grams with 6's prose core, but 6 fell at the gopher
    // stage and so never entered pair generation — 7 has no surviving
    // near-dup partner and must be kept. (If the stages ran dedup-first,
    // 6 < 7 would make 7 the cluster loser.)
    assert(log(7L)._1 == Curate.StageKept)
  }

  test("scrubbed text only on kept rows, with the PII battery applied") {
    log.foreach { case (_, (stage, scrubbed)) =>
      assert((stage == Curate.StageKept) == (scrubbed != null))
    }
    assert(log(8L)._2.contains("<EMAIL>"))
    assert(!log(8L)._2.contains("jane.doe@example.org"))
    assert(log(1L)._2 == proseA) // clean text passes through unchanged
  }

  test("curated() returns exactly the kept rows with original columns + scrubbed") {
    val curated = Curate.curated(corpus, "doc_id", "text")
    assert(curated.columns.toSeq == Seq("doc_id", "text", "scrubbed"))
    val keptIds = log.collect { case (id, (s, _)) if s == Curate.StageKept => id }
    assert(curated.select("doc_id").as[Long].collect().sorted.toSeq ==
      keptIds.toSeq.sorted)
    // original text intact, scrubbed matches the log
    curated.collect().foreach { r =>
      assert(r.getString(2) == log(r.getLong(0))._2)
    }
  }

  test("full(): the model scores ONLY chain survivors") {
    // html-wrap the planted corpus the same way the flagship does
    val scored = Curate.full(rawOf(corpus), spark)
    val urls = scored.select("url").as[String].collect().toSet
    val keptIds = log.collect { case (id, (s, _)) if s == Curate.StageKept => id }
    assert(urls == keptIds.map(id => s"https://t.example.org/doc/$id").toSet)
    // the full docs_scored surface is present for survivors
    Seq("sophistication", "avg_stage2", "recommendation", "overall_score",
      "keep", "scrubbed_text").foreach(c => assert(scored.columns.contains(c)))
  }

  test("stages partition the corpus at driver scale too (sf0.001 documents)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val stages = Curate.curationLog(docs, "doc_id", "text")
      .groupBy("stage").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stages.values.sum == docs.count())
    assert(stages.getOrElse(Curate.StageKept, 0L) > 0L)
  }

  test("minhash strategy finds the planted clusters (stage-identical here)") {
    // at the planted similarities (J ≈ 0.9+) the 8×4 band scheme's
    // collision probability is ~1-(1-J⁴)⁸ ≈ 0.999 — and LSH is
    // deterministic given the corpus, so on this fixture the capped
    // minhash chain must reproduce the exact chain's stages
    val viaMinhash = Curate.curationLog(corpus, "doc_id", "text",
        strategy = "minhash")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaMinhash == log.map { case (k, (s, _)) => k -> s })
    // unknown strategy fails fast
    intercept[IllegalArgumentException] {
      Curate.curationLog(corpus, "doc_id", "text", strategy = "typo")
    }
  }

  test("AQE broadcasts the loser-labeling join when the loser set is small") {
    // the scaladoc's scale claim: a loser list within the driver budget
    // is broadcast, so labeling needs NO shuffle of the document text.
    // Assert it on the final adaptive plan, both where losers exist and
    // where the loser list is empty (an all-unique corpus).
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val unique = (1 to 40).map(i => (i.toLong, prose(100 + i)))
      .toDF("doc_id", "text")
    Seq("sf0.001" -> docs, "all-unique" -> unique).foreach { case (name, in) =>
      val log = Curate.curationLog(in, "doc_id", "text")
      // collect(), not head(): head() plans a SEPARATE limited query
      val stages = log.collect().map(_.getString(1))
      assert(stages.length == in.count(), name)
      val losers = stages.count(s =>
        s == Curate.StageExactDup || s == Curate.StageNearDup)
      if (name == "sf0.001") assert(losers > 0, "sf0.001 has duplicates")
      else assert(losers == 0, "the all-unique corpus has no losers")
      val shuffled = textShuffles(log)
      assert(shuffled.isEmpty,
        s"$name: labeling must not shuffle the text; exchanges:\n" +
          shuffled.mkString("\n").take(4000))
    }
  }

  test("exact-dedup stage is map-side-combinable: mega-dup group, no window") {
    // round-5 verdict #1: a page duplicated 10^5+ times must collapse in
    // a partial aggregate on the fingerprint, never co-locate as one
    // window partition. Plant one mega-duplicated text and assert (a)
    // the labels, (b) the plan shape over EVERY query the chain runs
    // (the exact losers are computed once, in the chain's checkpoint
    // query, not in the log's final plan): a HashAggregate keyed on the
    // fingerprint with partial_min, and NO Window node anywhere on the
    // exact-dedup path (the only windows in the chain's plans belong to
    // the pair-generation caps, which never see the mega-group — exact
    // losers are removed before pair generation).
    val mega = spark.range(0, 100000).select(col("id").as("doc_id"),
        lit(proseA).as("text"))
      .unionByName(Seq((200000L, proseB), (200001L, proseB + " extra tail"))
        .toDF("doc_id", "text"))
    val (stages, plans) = plansOfEveryQuery {
      Curate.curationLog(mega, "doc_id", "text")
        .groupBy("stage").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    assert(stages(Curate.StageExactDup) == 99999L)
    assert(stages(Curate.StageNearDup) == 1L)
    assert(stages(Curate.StageKept) == 2L) // doc 0 and doc 200000
    assert(plans.exists(_.matches("(?s).*HashAggregate\\(keys=\\[__fp[#\\d]*\\]" +
      ".*partial_min.*")),
      s"expected a partial aggregate on the fingerprint; plans:\n" +
        plans.mkString("\n----\n").take(8000))
    val windowsOnFp = plans.flatMap(_.linesIterator)
      .filter(_.contains("Window")).filter(_.contains("__fp"))
    assert(windowsOnFp.isEmpty,
      s"exact-dedup path must not use a window over the fingerprint: $windowsOnFp")
  }

  test("forced distributed components path labels identically") {
    // collectThreshold=0 forces the HashMin+jump loop inside the chain
    // AND the shuffled loser joins; the planted corpus has exact and
    // near losers, so both joins carry rows on both paths
    val viaLoop = Curate.curationLog(corpus, "doc_id", "text",
        collectThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaLoop == log.map { case (k, (s, _)) => k -> s })
    assert(viaLoop.values.toSet.contains(Curate.StageExactDup))
    assert(viaLoop.values.toSet.contains(Curate.StageNearDup))
    val curatedLoop = Curate.curated(corpus, "doc_id", "text",
      collectThreshold = 0)
    val curatedBcast = Curate.curated(corpus, "doc_id", "text")
    val rowsLoop = curatedLoop.collect().map(_.toSeq).toSet
    assert(rowsLoop == curatedBcast.collect().map(_.toSeq).toSet)
    // the two runs took different join forms
    assert(textShuffles(curatedLoop).nonEmpty)
    assert(textShuffles(curatedBcast).isEmpty)
  }

  test("an input column named like a chain column fails fast, naming it") {
    val withStage = corpus.withColumn("stage", lit("crawled"))
    val chainErr = intercept[IllegalArgumentException] {
      Curate.curationLog(withStage, "doc_id", "text")
    }
    assert(chainErr.getMessage.contains("'stage'"), chainErr.getMessage)
    val dedupErr = intercept[IllegalArgumentException] {
      graft.dedup.Dedup.exactLosers(corpus.withColumn("__fp", lit("x")),
        "doc_id", "text")
    }
    assert(dedupErr.getMessage.contains("'__fp'"), dedupErr.getMessage)
  }

  test("a repeated id fails fast on every face, naming the column and value") {
    // labels join by id alone: before the check, both id-1000 rows were
    // labeled exact_dup and the unique body1 was dropped
    import graft.fixtures.SynthCorpus.bodyFor
    val docs = Seq((0L, bodyFor(0)), (1000L, bodyFor(0)), (1000L, bodyFor(1)),
      (2L, bodyFor(2))).toDF("doc_id", "text")
    def rejects(run: => Any, column: String, value: String): Unit = {
      val err = intercept[IllegalArgumentException](run)
      assert(err.getMessage.contains(s"'$column'") &&
        err.getMessage.contains(s"'$value'"), err.getMessage)
    }
    rejects(Curate.curationLog(docs, "doc_id", "text").collect(), "doc_id", "1000")
    rejects(Curate.curated(docs, "doc_id", "text").collect(), "doc_id", "1000")
    val raw = docs.select(
      concat(lit("https://t.example.org/doc/"), col("doc_id")).as("url"),
      encode(col("text"), "UTF-8").as("html"))
    rejects(Curate.full(raw, spark).collect(), "url", "https://t.example.org/doc/1000")
  }

  test("a repeated id fails fast on every chain configuration") {
    // the id check reads the same bounded action as the exact-loser list;
    // the fixture has exact losers too (1000 and 4 copy 0's text), so a
    // check that stopped at the first rows it read could see only losers
    import graft.fixtures.SynthCorpus.bodyFor
    val docs = Seq((0L, bodyFor(0)), (1000L, bodyFor(0)), (1000L, bodyFor(1)),
      (2L, bodyFor(2)), (4L, bodyFor(0)), (5L, bodyFor(2))).toDF("doc_id", "text")
    withRawParquet(docs) { path =>
      val raw = spark.read.parquet(path)
      val faces: Seq[(String, (String, Int, Boolean) => DataFrame, String, String)] = Seq(
        ("curationLog", (st, t, m) => Curate.curationLog(docs, "doc_id", "text",
          collectThreshold = t, materialize = m, strategy = st), "doc_id", "1000"),
        ("curated", (st, t, m) => Curate.curated(docs, "doc_id", "text",
          collectThreshold = t, materialize = m, strategy = st), "doc_id", "1000"),
        ("full", (st, t, m) => Curate.full(raw, spark,
          collectThreshold = t, materialize = m, strategy = st), "url",
          "https://t.example.org/doc/1000"))
      for {
        (face, run, column, value) <- faces
        strategy <- Seq("exact", "minhash")
        materialize <- Seq(true, false)
        threshold <- Seq(1 << 20, 1, 0) // default, overflowing, distributed
      } {
        val where = s"$face/$strategy/materialize=$materialize/threshold=$threshold"
        val err = withClue(where)(intercept[IllegalArgumentException](
          run(strategy, threshold, materialize).collect()))
        assert(err.getMessage.contains(s"'$column'") &&
          err.getMessage.contains(s"'$value'") && err.getMessage.contains("2 times"),
          s"$where: ${err.getMessage}")
      }
      // above 1,000 shuffle partitions a shuffle read reports no preferred
      // location while a file split does, so coalesce(1) may read the exact
      // losers before the repeated ids: the check must not depend on the
      // order the stage-2 action reads its rows in
      val partitions = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "1001")
      try {
        for {
          (face, run, column, value) <- faces
          materialize <- Seq(true, false)
          threshold <- Seq(1 << 20, 2)
        } {
          val where = s"$face/materialize=$materialize/threshold=$threshold/1001 partitions"
          val err = withClue(where)(intercept[IllegalArgumentException](
            run("exact", threshold, materialize).collect()))
          assert(err.getMessage.contains(s"'$column'") && err.getMessage.contains(s"'$value'"),
            s"$where: ${err.getMessage}")
        }
      } finally spark.conf.set("spark.sql.shuffle.partitions", partitions)
    }
  }

  test("a warm Curate.full runs within its job budget and checkpoints its rows once") {
    withRawParquet { raw =>
      def run(): Array[org.apache.spark.sql.Row] =
        Curate.full(spark.read.parquet(raw), spark, strategy = "minhash",
          materialize = true).collect()
      val cold = run() // the first call compiles and plans; the budget is for warm calls
      val ((warm, queries), jobs) = jobsOf(queriesOf(run()))
      assert(warm.length == cold.length && warm.length == 4, s"${warm.length} survivors")
      // parquet footer read, the document checkpoint, exact dedup + id
      // check (three shuffle map stages and one take), the exact-loser
      // broadcast, pair generation (four shuffle map stages and one take
      // that fills the pair checkpoint), the loser broadcast and the scorer
      info(s"$jobs jobs; queries: ${queries.map(_._1).mkString(", ")}")
      assert(jobs <= 14, s"$jobs jobs; queries: ${queries.map(_._1).mkString(", ")}")
      // one checkpoint of document rows: the only one carrying the text
      val rowCheckpoints = queries.filter { case (name, qe) =>
        name == "localCheckpoint" && qe.analyzed.output.exists(_.name == "text")
      }
      assert(rowCheckpoints.length == 1,
        s"document-frame checkpoints: ${rowCheckpoints.map(_._2.analyzed.output)}")
      // no action only sizes a loser list
      assert(!queries.exists(_._1 == "count"), queries.map(_._1))
    }
    // driver-path components are a LocalRelation: the chain reads its near
    // losers without a job
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
    assert(comps.queryExecution.analyzed.isInstanceOf[LocalRelation],
      comps.queryExecution.analyzed.toString)
    val (labels, readJobs) = jobsOf(comps.filter(col("id") =!= col("component")).collect())
    assert(labels.length == 3 && readJobs == 0, s"${labels.length} losers, $readJobs jobs")
  }

  test("the shingle kernel runs at most once per row pass of every chain plan") {
    // a digest carried as a plain projection is re-inlined at each of its
    // references (size filter, signature, verify), the q52 regression the
    // Generate barriers prevent; unmaterialized, every reference re-reads
    // the input, so this guards each pass of every plan the chain runs
    withRawParquet { raw =>
      for (strategy <- Seq("exact", "minhash"); materialize <- Seq(false, true)) {
        val where = s"$strategy/materialize=$materialize"
        val (rows, queries) = queriesOf(Curate.full(spark.read.parquet(raw), spark,
          strategy = strategy, materialize = materialize).collect())
        assert(rows.length == 4, where)
        val perPass = queries.flatMap(q => shingleCallsPerPass(q._2.executedPlan))
        assert(perPass.sum > 0, s"$where: no plan ran the shingle kernel")
        assert(perPass.forall(_ <= 1), s"$where: calls per pass $perPass\n" +
          queries.map(_._2.executedPlan.toString).filter(_.contains("HashedShingles"))
            .mkString("\n----\n").take(8000))
      }
    }
    // the carried digest column is reserved, like every chain column
    val err = intercept[IllegalArgumentException] {
      Curate.curationLog(corpus.withColumn("__sh", lit(1)), "doc_id", "text")
    }
    assert(err.getMessage.contains("'__sh'"), err.getMessage)
  }
}
