package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamingPipeline

/** Streaming exact dedup must keep one row per content key across
  * micro-batch boundaries (state store).
  */
class StreamingDedupSpec extends SparkTestBase {
  import spark.implicits._

  // 3 distinct texts, each duplicated across BOTH micro-batches — the
  // cross-batch duplicate is the part only the state store can catch
  private val batch1 = Seq((0L, "alpha beta gamma"), (1L, "delta epsilon"),
    (2L, "alpha beta gamma"))
  private val batch2 = Seq((3L, "delta epsilon"), (4L, "zeta eta theta"),
    (5L, "alpha beta gamma"))

  test("built-in streaming dropDuplicates dedups across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    stream.addData(batch1)
    stream.addData(batch2)
    val out = StreamingPipeline.streamingDedup(
      stream.toDF().toDF("doc_id", "text"), "text")
    val q = out.writeStream.format("memory")
      .queryName("dedup_stream").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("dedup_stream").collect()
    assert(rows.length == 3) // one survivor per distinct text
    assert(rows.map(_.getAs[String]("dup_key")).distinct.length == 3)
  }
}
