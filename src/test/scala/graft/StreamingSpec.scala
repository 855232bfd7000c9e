package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.fixtures.SynthCorpus
import graft.model.WebDoc

/** The streaming pipeline must equal the batch pipeline per url — the
  * narrow-transformations-only property made observable.
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  test("streaming micro-batches reproduce batch labels byte-for-byte") {
    implicit val sqlCtx = spark.sqlContext
    val docs = (0L until 120L).map(SynthCorpus.docFor)
    val stream = MemoryStream[WebDoc]
    stream.addData(docs.take(50))
    stream.addData(docs.drop(50))

    val scored = Pipeline.score(stream.toDF(), spark)
      .select("url", "lang", "overall_score", "keep")
    val q = scored.writeStream.format("memory")
      .queryName("scored_stream").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("scored_stream").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getDouble(2), r.getBoolean(3))).toMap
    val batch = Pipeline.score(docs.toDF(), spark)
      .select("url", "lang", "overall_score", "keep").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getDouble(2), r.getBoolean(3))).toMap
    assert(streamed.size == 120)
    assert(streamed == batch)
  }
}

/** The derive/builder batteries are narrow plans — they must run on a
  * stream and reproduce the batch rows exactly.
  */
class StreamingDeriveSpec extends SparkTestBase {
  import spark.implicits._
  import graft.fixtures.SynthCorpus
  import graft.model.WebDoc
  import graft.derive.{BenchmarkBuilders, Derive, RlBuilder, UgBuilders}
  import graft.functions.ComputeOnce
  import graft.rules.Heuristics
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

  test("streaming training examples and v3 benchmark items equal batch") {
    implicit val sqlCtx = spark.sqlContext
    val docs = (0L until 150L).map(SynthCorpus.docFor)
    val stream = MemoryStream[WebDoc]
    stream.addData(docs.take(70))
    stream.addData(docs.drop(70))

    val scoredStream = Pipeline.score(stream.toDF(), spark)
      .withColumn("subject", lit("Physics"))
    val q1 = Derive.trainingExamples(scoredStream, "url", "text", "subject")
      .select("id", "example_type", "difficulty", "quality_score")
      .writeStream.format("memory").queryName("train_stream")
      .outputMode("append").start()
    val q2 = BenchmarkBuilders.benchmarkItemsV3(scoredStream, "url", "text", "subject")
      .select("problem_id", "type", "difficulty")
      .writeStream.format("memory").queryName("bench_stream")
      .outputMode("append").start()
    try { q1.processAllAvailable(); q2.processAllAvailable() }
    finally { q1.stop(); q2.stop() }

    val scoredBatch = Pipeline.score(docs.toDF(), spark)
      .withColumn("subject", lit("Physics"))
    val trainBatch = Derive.trainingExamples(scoredBatch, "url", "text", "subject")
      .select("id", "example_type", "difficulty", "quality_score")
      .collect().map(_.toSeq).toSet
    val trainStreamed = spark.table("train_stream").collect().map(_.toSeq).toSet
    assert(trainStreamed.nonEmpty && trainStreamed == trainBatch)

    val benchBatch = BenchmarkBuilders.benchmarkItemsV3(scoredBatch, "url", "text", "subject")
      .select("problem_id", "type", "difficulty")
      .collect().map(_.toSeq).toSet
    val benchStreamed = spark.table("bench_stream").collect().map(_.toSeq).toSet
    assert(benchStreamed.nonEmpty && benchStreamed == benchBatch)
  }

  test("streaming gopher stats equal batch") {
    implicit val sqlCtx = spark.sqlContext
    val docs = (0L until 120L).map(SynthCorpus.docFor)
    val stream = MemoryStream[WebDoc]
    stream.addData(docs.take(50))
    stream.addData(docs.drop(50))
    val scoredStream = Pipeline.score(stream.toDF(), spark)
    val q = ComputeOnce(scoredStream, "__g", Heuristics.gopherStats(col("text")))
      .select(col("url"), col("__g.*"))
      .writeStream.format("memory").queryName("gopher_stream")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val batch = ComputeOnce(Pipeline.score(docs.toDF(), spark), "__g",
        Heuristics.gopherStats(col("text")))
      .select(col("url"), col("__g.*")).collect().map(_.toSeq).toSet
    val streamed = spark.table("gopher_stream").collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming RL and UG training builders equal batch") {
    implicit val sqlCtx = spark.sqlContext
    val docs = (0L until 150L).map(SynthCorpus.docFor)
    val stream = MemoryStream[WebDoc]
    stream.addData(docs.take(70))
    stream.addData(docs.drop(70))

    val scoredStream = Pipeline.score(stream.toDF(), spark)
      .withColumn("subject", lit("Physics"))
      .withColumn("title", lit("Physics paper"))
    val faces = Seq(
      ("rl_v2_stream", RlBuilder.rlTrainingExamples(scoredStream,
          "url", "text", "subject", "title")
        .select("id", "example_type", "step_count", "difficulty")),
      ("rl_v3_stream", RlBuilder.rlTrainingExamplesV3(scoredStream,
          "url", "text", "subject", "title")
        .select("id", "example_type", "difficulty")),
      ("ug_stream", UgBuilders.ugTrainingExamples(scoredStream,
          "url", "text", "subject", "title")
        .select("id", "example_type", "step_count", "difficulty", "topic")))
    val queries = faces.map { case (name, df) =>
      df.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
    }
    try queries.foreach(_.processAllAvailable())
    finally queries.foreach(_.stop())

    val scoredBatch = Pipeline.score(docs.toDF(), spark)
      .withColumn("subject", lit("Physics"))
      .withColumn("title", lit("Physics paper"))
    val batch = Seq(
      RlBuilder.rlTrainingExamples(scoredBatch, "url", "text", "subject", "title")
        .select("id", "example_type", "step_count", "difficulty"),
      RlBuilder.rlTrainingExamplesV3(scoredBatch, "url", "text", "subject", "title")
        .select("id", "example_type", "difficulty"),
      UgBuilders.ugTrainingExamples(scoredBatch, "url", "text", "subject", "title")
        .select("id", "example_type", "step_count", "difficulty", "topic"))
    faces.map(_._1).zip(batch).foreach { case (name, b) =>
      val streamed = spark.table(name).collect().map(_.toSeq).toSet
      val expected = b.collect().map(_.toSeq).toSet
      assert(streamed == expected, s"$name != batch")
      assert(streamed.nonEmpty, s"$name produced no rows")
    }
  }
}
