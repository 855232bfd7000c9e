package graft

import org.apache.spark.sql.functions._
import graft.fixtures.SynthCorpus

/** THE correctness gate (SURVEY.md §5.2, BASELINE.md):
  *   - keep/drop F1 >= 0.99 vs the deterministic reference oracle
  *   - byte-identical extracted text per url
  *   - byte-identical scrubbed text per url
  *   - partition-count invariance (the executor-parallel correctness proxy)
  */
class PipelineParitySpec extends SparkTestBase {

  private val N = 2000L

  private lazy val joined = {
    val raw = SynthCorpus.docsRaw(spark, N, partitions = 8).toDF()
    val scored = Pipeline.score(raw, spark)
    val labels = SynthCorpus.labels(spark, N, partitions = 8)
    scored.join(labels, Seq("url"), "inner").cache()
  }

  test("every synthesized url is scored exactly once") {
    assert(joined.count() == N)
    assert(joined.select("url").distinct().count() == N)
  }

  test("extracted text is byte-identical per url (input_hint invariant)") {
    val mismatch = joined.filter(col("text") =!= col("ref_text")).count()
    assert(mismatch == 0, s"$mismatch/$N rows differ in extracted text")
  }

  test("scrubbed text is byte-identical per url (north_rule scrub)") {
    val mismatch = joined.filter(col("scrubbed_text") =!= col("ref_scrubbed")).count()
    assert(mismatch == 0)
  }

  test("subtle-issues lists match the oracle element-for-element") {
    val mismatch = joined.filter(col("issues") =!= col("ref_issues")).count()
    assert(mismatch == 0)
  }

  test("langid matches the oracle") {
    val mismatch = joined.filter(col("lang") =!= col("ref_lang")).count()
    assert(mismatch == 0)
  }

  test("overall score matches the oracle to 1e-12") {
    val mismatch = joined
      .filter(abs(col("overall_score") - col("ref_score")) > 1e-12).count()
    assert(mismatch == 0)
  }

  test("keep/drop F1 >= 0.99 vs reference labels (BASELINE.md hard gate)") {
    val cm = joined.agg(
      sum(when(col("keep") && col("ref_keep"), 1L).otherwise(0L)).as("tp"),
      sum(when(col("keep") && !col("ref_keep"), 1L).otherwise(0L)).as("fp"),
      sum(when(!col("keep") && col("ref_keep"), 1L).otherwise(0L)).as("fn"),
      sum(when(col("ref_keep"), 1L).otherwise(0L)).as("pos")
    ).head()
    val (tp, fp, fn, pos) = (cm.getLong(0), cm.getLong(1), cm.getLong(2), cm.getLong(3))
    assert(pos > 0, "fixture must contain positive (keep) labels")
    assert(pos < N, "fixture must contain negative (drop) labels")
    val precision = tp.toDouble / math.max(tp + fp, 1L)
    val recall = tp.toDouble / math.max(tp + fn, 1L)
    val f1 = 2 * precision * recall / math.max(precision + recall, 1e-9)
    info(f"keep-rate=${pos.toDouble / N}%.3f precision=$precision%.4f recall=$recall%.4f f1=$f1%.4f")
    assert(f1 >= 0.99, f"F1 $f1%.4f < 0.99 (tp=$tp fp=$fp fn=$fn)")
  }

  test("scoring is invariant to partitioning (repartition(k) invariance)") {
    val raw = SynthCorpus.docsRaw(spark, 100L, partitions = 1).toDF()
    val a = Pipeline.score(raw, spark)
      .select("url", "overall_score", "keep").collect().map(r => r.getString(0) -> r).toMap
    val b = Pipeline.score(raw.repartition(7), spark)
      .select("url", "overall_score", "keep").collect()
    assert(b.length == 100)
    b.foreach { r =>
      val ref = a(r.getString(0))
      assert(r.getDouble(1) == ref.getDouble(1), s"score drift for ${r.getString(0)}")
      assert(r.getBoolean(2) == ref.getBoolean(2))
    }
  }

  test("score is in [0,1]; stage-1 fail forces 0 (classifier.py:329-330)") {
    val bad = joined.filter(col("overall_score") < 0.0 || col("overall_score") > 1.0).count()
    assert(bad == 0)
    val failNonZero = joined.filter(!col("stage1_pass") && col("overall_score") =!= 0.0).count()
    assert(failNonZero == 0)
  }

  test("keep implies stage-1 pass (threshold 0.4 > 0)") {
    assert(joined.filter(col("keep") && !col("stage1_pass")).count() == 0)
  }
}
