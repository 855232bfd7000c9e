package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The session every graft main runs in: `local[cpus]` with one shuffle
  * partition per core, UTC, no UI, WARN logging. Spark's defaults keep
  * adaptive execution, partition coalescing and skew-join splitting on.
  */
object LocalSession {
  /** SPARK_GRAFT_CPUS, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def apply(cpus: Int = envCpus, conf: Seq[(String, String)] = Nil): SparkSession = {
    val spark = conf.foldLeft(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Benchmark harness (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, plus a steady-state quality-filter throughput
  * measurement on the synthetic corpus, and prints ONE JSON line.
  *
  * Protocol (BASELINE.md): a warm-up pass first (JIT + codegen + broadcast
  * warm), then the measured pass — throughput is steady-state docs/sec,
  * not cold-start.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.envCpus
    val benchDocs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "40000").toLong
    val spark = LocalSession(cpus)

    // ---- warm-up: JIT, codegen caches, parquet footers ----
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    try SparkEntry.queries("q01_lineitem_agg")(spark, sfDir).count()
    catch { case _: Throwable => () }

    // ---- per-query timings: min of two passes (bursty hypervisor steal
    // on this VM makes any single pass unreliable; min = steal-free est.)
    // a throwing query is REPORTED (ok=false + listed in "failed"), never
    // silently timed as if it ran (round-1 advice: no swallowed failures)
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def once(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
        }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      val (s1, ok1) = once(); val (s2, ok2) = once()
      (name, math.min(s1, s2), ok1 && ok2)
    }

    // ---- steady-state filter throughput (the BASELINE.md headline) ----
    def pipelineCount(n: Long): (Long, Double) = {
      val raw = graft.fixtures.SynthCorpus.docsRaw(spark, n, cpus).toDF()
      val t0 = System.nanoTime()
      val kept = Pipeline.score(raw, spark)
        .agg(count(lit(1)), sum(when(col("keep"), 1L).otherwise(0L))).head()
      (kept.getLong(0), (System.nanoTime() - t0) / 1e9)
    }
    pipelineCount(math.min(benchDocs / 4, 10000L)) // warm-up pass
    val (nDocs, secs) = Seq(pipelineCount(benchDocs), pipelineCount(benchDocs))
      .minBy(_._2)
    val docsPerSec = nDocs / secs

    val qs = results.map { case (k, v, _) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir","docs_per_sec":$docsPerSec%.1f,"bench_docs":$nDocs,"pipeline_sec":$secs%.3f,"cpus":$cpus}""")
    spark.stop()
  }
}

/** Interleaved A/B scaling measurement: alternates local[8] and local[32]
  * sessions in ONE JVM (shared JIT, fair comparison) and reports the min
  * time per configuration — the steal-free estimate on this bursty-steal
  * sandbox VM. Prints one JSON line with both throughputs + efficiency.
  */
object ScalingAB {
  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "60000").toLong
    val rounds = sys.env.getOrElse("SPARK_GRAFT_AB_ROUNDS", "3").toInt
    val small = sys.env.getOrElse("SPARK_GRAFT_AB_SMALL", "8").toInt
    // job=score: the scoring pipeline (narrow, zero-shuffle — the round-4
    // pinned number). job=curate: the composed curation chain + scoring
    // (gopher → exact dedup → near-dup components → scrub → score): the
    // shuffle-bearing end-to-end shape.
    val job = sys.env.getOrElse("SPARK_GRAFT_AB_JOB", "score")
    val large = small * 4
    // The corpus is MATERIALIZED to parquet once and the measured job reads
    // it back — the real 100TB shape (scan → score), and it keeps the
    // generator's cost out of the engine throughput number.
    val corpusDir = s"/tmp/graft_scaling_corpus_$n"
    def ensureCorpus(spark: SparkSession): Unit =
      if (!new java.io.File(s"$corpusDir/_SUCCESS").exists()) {
        graft.fixtures.SynthCorpus.docsRaw(spark, n, 64).toDF()
          .write.mode("overwrite").parquet(corpusDir)
      }
    def run(spark: SparkSession): Double = {
      // full-table scan (no limit — a GlobalLimit would add a coalesce)
      val raw = spark.read.parquet(corpusDir)
      val t0 = System.nanoTime()
      val scored =
        if (job == "curate")
          // minhash strategy: the SynthCorpus is boilerplate-dense
          // (~300k true near-dup pairs in 20k docs) — the web-scale
          // regime of the chain, per the Curate scaladoc; the exact
          // strategy is the oracle/sparse tool and is quadratic in
          // cluster size by construction. materialize=true is the
          // corpus-fits-storage regime (52 MB here); at 100 TB an
          // operator would leave it false
          graft.curate.Curate.full(raw, spark, strategy = "minhash",
            materialize = true)
        else Pipeline.score(raw, spark)
      scored
        .agg(count(lit(1)), sum(when(col("keep"), 1L).otherwise(0L))).head()
      (System.nanoTime() - t0) / 1e9
    }
    val times8 = scala.collection.mutable.ArrayBuffer.empty[Double]
    val times32 = scala.collection.mutable.ArrayBuffer.empty[Double]
    (1 to rounds).foreach { r =>
      for (cpus <- Seq(small, large)) {
        val spark = LocalSession(cpus, Seq("spark.locality.wait" -> "0"))
        ensureCorpus(spark)
        if (r == 1) run(spark) // warm-up
        val s = run(spark)
        (if (cpus == small) times8 else times32) += s
        System.err.println(f"[scaling] round $r cpus=$cpus ${s}%.2f s")
        spark.stop()
      }
    }
    // min = steal-free estimate on this bursty-steal VM; the full spread
    // is reported so a single number can't hide round-to-round variance
    def stats(ts: Seq[Double]): (Double, Double, Double) = {
      val sorted = ts.sorted
      (sorted.head, sorted(sorted.length / 2), sorted.last)
    }
    val (min8, med8, max8) = stats(times8.toSeq)
    val (min32, med32, max32) = stats(times32.toSeq)
    val t8 = n / min8
    val t32 = n / min32
    val eff = t32 / (4.0 * t8)
    val effMed = (n / med32) / (4.0 * (n / med8))
    def arr(ts: Seq[Double]): String =
      ts.map(t => f"$t%.3f").mkString("[", ",", "]")
    println(f"""{"job":"$job","docs":$n,"rounds":$rounds,"n_cores":$small,"t_n_docs_per_sec":$t8%.1f,"t_4n_docs_per_sec":$t32%.1f,"efficiency":$eff%.3f,"efficiency_median":$effMed%.3f,"times_n_sec":${arr(times8.toSeq)},"times_4n_sec":${arr(times32.toSeq)},"spread_n":"$min8%.2f-$max8%.2f s","spread_4n":"$min32%.2f-$max32%.2f s"}""")
  }
}
