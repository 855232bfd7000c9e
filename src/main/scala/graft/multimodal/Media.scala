package graft.multimodal

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, plus a batched decode/feature-extract
  * operator.
  *
  * The image/audio codec libraries are NOT in this container, so the decode
  * step is a clearly-marked DETERMINISTIC STUB (`stubDecode`) — the
  * Spark-side plumbing (schema, partitioning, batch shape, mapPartitions
  * signature) is real and tested. Swapping the stub for a real decoder
  * (javacv / a Python `mapInPandas` stage in PySpark deployments) changes
  * only the function body, not the plan shape.
  *
  * Scale notes: blobs never pass through a shuffle — features are derived
  * in narrow mapPartitions batches; only the (small) feature vectors and
  * metadata continue downstream. Partition sizing for blob tables should
  * target spark.sql.files.maxPartitionBytes rather than row counts.
  */
object Media {

  val FeatureDim = 16

  /** STUB DECODER — deterministic byte-histogram "features".
    * A real deployment replaces this body with an actual image/audio decode
    * (the container has no codec libs). Signature and batch usage are the
    * real contract: Array[Byte] => Array[Float] of FeatureDim.
    */
  def stubDecode(bytes: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](FeatureDim)
    if (bytes == null || bytes.isEmpty) return hist
    var i = 0
    while (i < bytes.length) {
      hist((bytes(i) & 0xFF) % FeatureDim) += 1f
      i += 1
    }
    val n = bytes.length.toFloat
    var j = 0
    while (j < FeatureDim) { hist(j) /= n; j += 1 }
    hist
  }

  /** Batched feature extraction: one mapPartitions pass adds a
    * `features: array<float>` column from `bytesCol`. The decode is invoked
    * per row but all per-batch setup is amortized — the exact shape a real
    * model-based decoder needs (cf. SURVEY.md §2.7 M2 pattern).
    */
  def withFeatures(df: DataFrame, bytesCol: String, outCol: String): DataFrame = {
    val outSchema = df.schema.add(outCol, ArrayType(FloatType), nullable = false)
    val idx = df.schema.fieldIndex(bytesCol)
    df.mapPartitions { it =>
      // per-batch setup happens here (a real decoder loads its model once)
      it.map { r =>
        val b = if (r.isNullAt(idx)) null else r.getAs[Array[Byte]](idx)
        Row.fromSeq(r.toSeq :+ stubDecode(b).toSeq)
      }
    }(Encoders.row(outSchema))
  }

  /** Build a deterministic media table from any binary column (used by
    * tests and the driver query — the documents' html wrapper bytes stand
    * in for media blobs).
    */
  def mediaFromBinary(df: DataFrame, idCol: String, bytesCol: String,
                      kind: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(bytesCol).as("bytes"),
      struct(
        lit(kind).as("kind"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        lit(null).cast("long").as("duration_ms"),
        lit("stub").as("codec")).as("meta"))
}
