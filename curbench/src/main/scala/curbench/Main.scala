package curbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.functions.GraftFunctions
import graft.lang.LangId
import graft.score.Perplexity

/** The curation benchmark's entry point: one JVM, one caller thread.
  *
  *   curbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --work <dir>
  *
  * Inputs are generated from the seed and written to parquet outside
  * timing; set-up (SparkSession creation, function registration, model and
  * lexicon builds, one warm-up pass) is repeated [[SetupReps]] times and
  * reported as a median; then the workload's call runs in a closed loop for
  * the given seconds (`--trace 0`), or once untraced and once per layer
  * under spans (`--trace 1`). Output checks run after timing. The last
  * line of standard output is the result object.
  */
object Main {

  val Cores = 4
  val SetupReps = 3
  /** Unmeasured full-size calls before the timed loop: at least this
    * many, for the workload's [[Workload.warmSeconds]].
    */
  val MinWarmCalls = 2

  /** Per-layer metrics of `--trace 1`: name -> unit. A layer a workload
    * leaves idle reports 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "extract.self_s" -> "s", "extract.mb_per_s" -> "MB/s",
    "lang.self_s" -> "s", "lang.en_frac" -> "ratio",
    "rules.stats.self_s" -> "s", "rules.gopher.self_s" -> "s",
    "rules.gopher.keep_frac" -> "ratio", "rules.eligible_frac" -> "ratio",
    "score.ppl.self_s" -> "s", "score.ppl.gate_frac" -> "ratio",
    "score.stages.self_s" -> "s", "score.keep_frac" -> "ratio",
    "score.fusion_ratio" -> "ratio",
    "scrub.self_s" -> "s", "scrub.changed_frac" -> "ratio",
    "dedup.exact.self_s" -> "s", "dedup.exact.dropped" -> "count",
    "dedup.pairs.self_s" -> "s", "dedup.pairs.candidates" -> "count",
    "dedup.pairs.verified" -> "count", "dedup.pairs.yield" -> "ratio",
    "dedup.pairs.capped" -> "count", "dedup.components.self_s" -> "s",
    "dedup.components.edges" -> "count", "dedup.near.dropped" -> "count",
    "dedup.shuffle_mb" -> "MB",
    "curate.self_s" -> "s", "curate.jobs" -> "count", "curate.stages" -> "count",
    "curate.tasks" -> "count", "curate.checkpoint_mb" -> "MB",
    "curate.idle_core_frac" -> "ratio", "curate.kept_frac" -> "ratio",
    "curate.dropped.gopher" -> "count", "curate.dropped.exact_dup" -> "count",
    "curate.dropped.near_dup" -> "count",
    "derive.self_s" -> "s", "derive.rows_out" -> "count",
    "derive.task_init_s" -> "s", "derive.task_init_frac" -> "ratio",
    "io.write_s" -> "s", "io.jobs_per_bucket" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_run_s" -> "s",
    "spark.task_cpu_s" -> "s", "spark.task_init_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.failed_tasks" -> "count",
    "spark.idle_core_frac" -> "ratio", "spark.eff_1to4" -> "ratio",
    "trace.overhead_frac" -> "ratio",
    "core_s_per_kdoc" -> "s", "task_peak_mem_mb" -> "MB",
    "shuffle_bytes_per_doc" -> "B",
    "failed_frac" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"))
  }

  def session(cores: Int, local: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("curbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // one split per input file (the inputs are written as ~4 files per
      // core), so no call hangs on one oversized straggler task
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.warehouse.dir", s"$local/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def log(msg: String): Unit = System.err.println(
    f"[curbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%6.1f s] $msg")

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workloads.byName(a.workload)
    val runId = s"${wl.name}-s${a.seed}-${System.currentTimeMillis()}"
    val root = new File(a.work).getAbsoluteFile
    val work = new File(root, runId)
    work.mkdirs()
    val local = new File(work, "spark").getPath
    var spark: SparkSession = null
    try {
      // ---- inputs: generated and written outside timing ----
      spark = session(Cores, local)
      val p = wl.prepare(spark, new File(work, "input").getPath, a.seed)
      println(s"input ${wl.name} seed=${a.seed} docs=${p.docs} html_bytes=${p.bytes} content_md5=${p.hash}")
      spark.stop()
      log("inputs written")

      // ---- set-up, repeated (once when traced: setup_s is not reported
      // then); the last session is kept ----
      val reps = if (a.trace) 1 else SetupReps
      val setups = (1 to reps).map { i =>
        val t0 = System.nanoTime()
        spark = session(Cores, local)
        GraftFunctions.register(spark)
        Perplexity.buildModel()
        LangId.buildModel()
        wl.warmup(spark, p, new File(work, s"warm$i").getPath)
        val s = (System.nanoTime() - t0) / 1e9
        if (i < reps) spark.stop()
        s
      }
      log(f"setup ${setups.map(x => f"$x%.2f").mkString(" ")} s")
      val counters = Counters.install(spark)

      var attempted = 0
      var failed = 0
      val metrics = ArrayBuffer.empty[(String, Double, String)]

      // The first call at full size still pays one-time costs (JIT of the
      // full-size paths, measured 15-35% slower than the next). It runs
      // before any clock, writes the output the checks read, and counts
      // as an attempted operation.
      val primed = new File(work, "prime").getPath
      attempted += wl.opsPerCall
      try wl.prime(spark, p, primed)
      catch { case e: Exception => failed += wl.opsPerCall; log(s"prime FAILED: $e") }
      wl.reset()

      def callOnce(group: String, out: String): Option[(Seq[Double], Double, Acc)] = {
        attempted += wl.opsPerCall
        try {
          val (ops, wall) = Counters.measured(spark, counters, group)(
            wl.call(spark, p.main, out))
          Some((if (ops.isEmpty) Seq(wall) else ops, wall, counters.get(group)))
        } catch {
          case e: Exception =>
            failed += wl.opsPerCall
            log(s"$group FAILED: $e")
            None
        }
      }
      def checks(extra: Seq[Check]): Unit = {
        val v = try wl.verify(spark, p, primed, new File(work, "verify").getPath)
        catch { case e: Exception => Verdict(Seq(Check("verify", ok = false, e.toString)), "none") }
        (v.checks ++ extra).foreach { c =>
          attempted += 1
          if (!c.ok) failed += 1
          println(s"check ${c.name} ${if (c.ok) "ok" else "FAILED"} ${c.detail}")
        }
        println(s"digest ${wl.name} seed=${a.seed} ${v.digest}")
        log("checks done")
      }
      def shuffleFree(accs: Seq[Acc]): Seq[Check] =
        if (!wl.shuffleFree) Nil
        else Seq(Check("shuffle_free", accs.forall(_.shuffleWrite == 0),
          s"${accs.map(_.shuffleWrite).sum} shuffle bytes written"))

      if (!a.trace) {
        // ---- warm-up: calls keep getting faster for a while after the
        // prime call, as the JIT compiles their paths, so they run
        // unmeasured first ----
        val tw = System.nanoTime()
        val warm = ArrayBuffer.empty[Double]
        while (warm.length < MinWarmCalls || (System.nanoTime() - tw) / 1e9 < wl.warmSeconds)
          warm += callOnce(s"warm-${warm.length}", new File(work, s"warm-call${warm.length}").getPath)
            .map(_._2).getOrElse(Double.NaN)
        log(f"${warm.length} warm-up calls, walls ${warm.map(x => f"$x%.2f").mkString(" ")} s")
        wl.reset()

        // ---- closed loop: one caller, calls back to back ----
        val calls = ArrayBuffer.empty[(Seq[Double], Double, Acc)]
        val t0 = System.nanoTime()
        var k = 0
        while (k == 0 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
          callOnce(s"call-$k", new File(work, s"call$k").getPath).foreach(calls += _)
          k += 1
        }
        require(calls.nonEmpty, "every call failed")
        val ops = calls.flatMap(_._1).toSeq
        log(f"${calls.length} calls, ${ops.length} operations, " +
          f"walls ${calls.map(c => f"${c._2}%.2f").mkString(" ")} s, " +
          f"task s/kdoc ${calls.map(c => f"${c._3.runS / (p.docs / 1000.0)}%.3f").mkString(" ")}, " +
          f"jobs ${calls.map(_._3.jobs).mkString(" ")}")
        println(s"samples ops=${ops.length} above_p90=${Stats.aboveCount(ops, 90)}")
        metrics ++= Seq(
          ("setup_s", Stats.median(setups), "s"),
          ("docs_per_s", Stats.median(calls.map(c => p.docs / c._2).toSeq), "docs/s"))
        if (wl.opsPerCall > 1) metrics ++= Seq(
          ("job_p50_s", Stats.percentile(ops, 50), "s"),
          ("job_p90_s", Stats.percentile(ops, 90), "s"))
        checks(shuffleFree(calls.map(_._3).toSeq))
      } else {
        // ---- traced pass: one untraced call, then the layer spans ----
        val untraced = callOnce("untraced", new File(work, "untraced").getPath)
        val tracer = new Tracer(spark, counters, runId)
        val (layer, mains) = wl.layers(spark, p, new File(work, "layers").getPath, tracer)
        tracer.close()
        val spansDir = new File(root, "spans")
        spansDir.mkdirs()
        Files.write(Paths.get(spansDir.getPath, s"${wl.name}-seed${a.seed}.json"),
          tracer.toJson.getBytes("UTF-8"))
        val acc = Acc.sum(mains.map(tracer.totalAcc))
        val wall = mains.map(_.wallS).sum
        val t4 = untraced.map(_._2).getOrElse(Double.NaN)
        checks(shuffleFree(untraced.map(_._3).toSeq))

        // ---- the same call at local[1]: the Amdahl serial share ----
        spark.stop()
        spark = session(1, local)
        wl.warmup(spark, p, new File(work, "warm1core").getPath)
        wl.reset()
        val t1 = {
          val t0 = System.nanoTime()
          wl.call(spark, p.main, new File(work, "onecore").getPath)
          (System.nanoTime() - t0) / 1e9
        }
        val base = layer ++ Map(
          "spark.jobs" -> acc.jobs.toDouble, "spark.tasks" -> acc.tasks.toDouble,
          "spark.task_run_s" -> acc.runS, "spark.task_cpu_s" -> acc.cpuS,
          "spark.task_init_s" -> acc.initS, "spark.gc_s" -> acc.gcS,
          "spark.shuffle_write_mb" -> acc.shuffleWrite / Workloads.MB,
          "spark.shuffle_read_mb" -> acc.shuffleRead / Workloads.MB,
          "spark.spill_mb" -> acc.spill / Workloads.MB,
          "spark.failed_tasks" -> acc.failedTasks.toDouble,
          "spark.idle_core_frac" -> (1.0 - acc.runS / (wall * Cores)),
          "spark.eff_1to4" -> t1 / (Cores * t4),
          "trace.overhead_frac" -> (mains.head.wallS - t4) / t4,
          "core_s_per_kdoc" ->
            untraced.map(_._3.runS / (p.docs / 1000.0)).getOrElse(0.0),
          "task_peak_mem_mb" ->
            untraced.map(_._3.peakExecMem / Workloads.MB).getOrElse(0.0),
          "shuffle_bytes_per_doc" ->
            untraced.map(_._3.shuffleWrite.toDouble / p.docs).getOrElse(0.0),
          "failed_frac" -> failed.toDouble / attempted)
        PerLayer.foreach { case (n, u) => metrics += ((n, base.getOrElse(n, 0.0), u)) }
      }

      val body = metrics.map { case (n, v, u) =>
        s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
      println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    } finally {
      if (spark != null) spark.stop()
      deleteTree(work)
    }
  }
}
