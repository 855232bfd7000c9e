package graft.agg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Aggregation A8 (SURVEY.md §2.5): the north_rule-mandated SALTED
  * per-key statistics for skewed hosts.
  *
  * Why salting: with Zipf-distributed hosts one mega-domain receives a large
  * share of all rows; a plain groupBy(domain) sends that entire share to one
  * reducer. The two-phase salted aggregate bounds any single task at
  * ~1/SALTS of the hot key, then merges the partials — same result, no
  * straggler. AQE skew handling stays on as the systemic backstop.
  */
object DomainStats {

  /** Generic salted aggregation over any key: count + sum/avg of a numeric
    * column — the reusable A8 pattern (salt on a high-cardinality column to
    * spread hot keys, then merge). Results identical to a direct groupBy
    * (verified by the q32 DuckDB oracle on the same data).
    */
  def saltedStats(df: DataFrame, keyCol: String, saltSource: String,
                  valueCol: String, salts: Int = 16): DataFrame = {
    val partial = df
      .withColumn("__salt", pmod(xxhash64(col(saltSource)), lit(salts)))
      .groupBy(col(keyCol), col("__salt"))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("s"))
    partial.groupBy(keyCol)
      .agg(sum("n").as("n"),
        round(sum("s").cast("double") / sum("n").cast("double"), 6).as("avg_value"),
        round(sum("s").cast("double"), 6).as("sum_value"))
  }
}
