package graft

/** Dump `.explain("formatted")` for every declared query to a directory
  * (round-6 deliverable: plans/r06/<query>_{before,after}.txt). Not part of
  * the driver contract. The tokens that differ between two runs of one
  * commit are masked ([[masked]]), so a before/after pair diffs to the
  * plan change alone.
  *
  *   SPARK_GRAFT_PLAN_DIR=plans/r06 SPARK_GRAFT_PLAN_SUFFIX=_before \
  *     sbt -batch "runMain graft.PlanDump"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r06")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "_before")
    val only = sys.env.get("SPARK_GRAFT_PLAN_ONLY") // comma-separated prefixes
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    // write the fixture corpora first: a query that writes one while its
    // plan is built shifts the expression ids of every later dump
    graft.fixtures.SynthCorpus.materializedCorpus(spark)
    graft.fixtures.SynthCorpus.materializedScored(spark)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.forall(_.split(",").exists(name.startsWith))) {
        try {
          // queryExecution.explainString — the same text explain() prints.
          // NOTE: plans with driver-side precomputation (components
          // union-find, IVF Lloyd) EXECUTE those jobs during construction.
          val df = fn(spark, sfDir)
          val txt = masked(df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          val w = new java.io.PrintWriter(s"$outDir/$name$suffix.txt")
          try w.write(txt) finally w.close()
          println(s"[plan] wrote $name$suffix (${txt.length} chars)")
        } catch {
          case e: Throwable => println(s"[plan] $name FAILED: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }

  /** `plan` with its run-dependent tokens masked: expression ids (`#12`),
    * exchange ids (`[plan_id=7]`), RDD ids (`MapPartitionsRDD[31]`) and
    * JVM lambda identities (`$$Lambda$3894/0x…@3392d69b`).
    */
  private def masked(plan: String): String =
    plan.replaceAll("#\\d+", "#N")
      .replaceAll("\\[plan_id=\\d+\\]", "[plan_id=N]")
      .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
      .replaceAll("\\$\\$Lambda[$\\w/]*@[0-9a-f]+", "\\$\\$Lambda")
}
