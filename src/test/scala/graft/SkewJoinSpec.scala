package graft

import org.apache.spark.sql.functions._

/** North-star evidence: "AQE skew-join handling for oversized hosts".
  * The deployment config (the Bench session) enables
  * `spark.sql.adaptive.skewJoin`; this spec DEMONSTRATES it firing — an
  * oversized-host join partition is split by OptimizeSkewedJoin
  * (`skew=true` in the final adaptive plan) and the join result is
  * unchanged. Thresholds are lowered to make a test-sized skew
  * detectable; production uses the defaults.
  */
class SkewJoinSpec extends SparkTestBase {
  import spark.implicits._

  test("AQE splits the oversized-host join partition (skew=true)") {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "100KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // force a sort-merge join: a broadcast would sidestep the skew path
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

      // one oversized host (the "boilerplate farm") + a long tail
      val docs = spark.range(0, 30000).select(
        when(col("id") < 25000, lit("big-host.example"))
          .otherwise(concat(lit("host-"), pmod(col("id"), lit(97))))
          .as("host"),
        concat(lit("document body padding "),
          col("id").cast("string"),
          lit(" x" * 100)).as("pad"))
      val dims = spark.range(0, 98).select(
        concat(lit("host-"), col("id")).as("host"),
        lit(0.5).as("host_prior"))
        .union(Seq(("big-host.example", 0.9)).toDF("host", "host_prior"))

      val joined = docs.join(dims, "host")
        .agg(count(lit(1)).as("n"), sum(length(col("pad"))).as("bytes"))
      // collect(), not head(): head() plans a SEPARATE limited query and
      // this Dataset's own queryExecution would never run
      val row = joined.collect().head
      assert(row.getLong(0) == 30000L, "join must cover every doc")

      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the skewed join; final plan:\n${finalPlan.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
