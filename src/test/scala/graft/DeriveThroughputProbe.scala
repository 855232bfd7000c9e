package graft

import org.apache.spark.sql.functions._

/** Dev probe, run manually: measures Derive.trainingExamples throughput on
  * a pre-materialized corpus (BENCH/BASELINE.md §3b).
  * Probe-tagged, so the default suite skips it; run it with the
  * `-n graft.Probe` recipe in build.sbt. Asserts only that examples are
  * produced.
  */
class DeriveThroughputProbe extends SparkTestBase {
  test("derive throughput probe (informational)", ProbeTag) {
    val dir = graft.fixtures.SynthCorpus.materializedCorpus(spark, 5000, 32)
    val corpus = spark.read.parquet(dir).withColumn("subject", lit("Physics"))
    def run(): (Long, Double) = {
      val t0 = System.nanoTime()
      val n = graft.derive.Derive.trainingExamples(corpus, "url", "text", "subject")
        .agg(count(lit(1))).head().getLong(0)
      (n, (System.nanoTime() - t0) / 1e9)
    }
    run() // warm
    val (n, secs) = Seq(run(), run()).minBy(_._2)
    info(f"5000 docs -> $n examples in $secs%.2f s (${5000 / secs}%.0f docs/s) at local[4]")
    assert(n > 0)
  }
}
