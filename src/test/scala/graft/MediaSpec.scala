package graft

import org.apache.spark.sql.functions._
import graft.multimodal.Media

/** Multimodal plumbing: schema, batch shape, determinism of the stub
  * decode, partition invariance.
  */
class MediaSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val media = Media.mediaFromBinary(
    Seq((1L, "hello media"), (2L, ""), (3L, "x" * 1000))
      .toDF("id", "t").withColumn("blob", encode(col("t"), "UTF-8")),
    "id", "blob", "image")

  test("media table carries the canonical schema") {
    assert(media.schema.fieldNames.toSeq == Seq("media_id", "bytes", "meta"))
    val meta = media.schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(meta.fieldNames.toSeq == Seq("kind", "width", "height", "duration_ms", "codec"))
  }

  test("batched feature extraction: dim, normalization, null-safety") {
    val f = Media.withFeatures(media, "bytes", "features")
      .select(col("media_id"), col("features")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(f.values.forall(_.length == Media.FeatureDim))
    // histogram of a non-empty blob sums to ~1
    assert(math.abs(f(1L).map(_.toDouble).sum - 1.0) < 1e-5)
    // empty blob → zero vector, no crash
    assert(f(2L).forall(_ == 0f))
  }

  test("stub decode is deterministic and pure") {
    val b = "some bytes for determinism".getBytes("UTF-8")
    assert(Media.stubDecode(b).toSeq == Media.stubDecode(b.clone()).toSeq)
  }

  test("features are partition-invariant") {
    val a = Media.withFeatures(media.coalesce(1), "bytes", "f")
      .select("media_id", "f").collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val b = Media.withFeatures(media.repartition(5), "bytes", "f")
      .select("media_id", "f").collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(a == b)
  }
}
