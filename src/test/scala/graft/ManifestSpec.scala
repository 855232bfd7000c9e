package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import graft.fixtures.SynthCorpus
import graft.io.Manifest

/** Checkpoint/resume semantics (north_rule; BASELINE.md "resume cost:
  * re-run after kill recomputes 0 committed partitions").
  */
class ManifestSpec extends SparkTestBase {

  /** `body` over a fresh temp directory, deleted afterwards. */
  private def withDir(prefix: String)(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory(prefix).toFile
    try body(dir.toString) finally FileUtils.deleteDirectory(dir)
  }

  private def scoreFn(df: org.apache.spark.sql.DataFrame) =
    Pipeline.score(df, spark)
      .select("url", "lang", "overall_score", "keep")

  test("bucketed run commits all buckets; full re-run recomputes zero") {
    withDir("graft_manifest") { dir =>
      val input = SynthCorpus.docsRaw(spark, 200, 4).toDF()
      val first = Manifest.runBucketed(spark, input, dir, "url", 8)(scoreFn)
      assert(first == 8)
      val out = Manifest.readCommitted(spark, dir)
      assert(out.count() == 200)
      // idempotent re-run: nothing recomputed
      val second = Manifest.runBucketed(spark, input, dir, "url", 8)(scoreFn)
      assert(second == 0, "committed buckets were recomputed")
    }
  }

  test("kill mid-run: resume completes only the missing buckets, output identical") {
    withDir("graft_manifest_kill") { dir =>
      val input = SynthCorpus.docsRaw(spark, 200, 4).toDF()

      // simulate a kill after 3 committed buckets
      var processed = 0
      intercept[RuntimeException] {
        Manifest.runBucketed(spark, input, dir, "url", 8) { df =>
          processed += 1
          if (processed > 3) throw new RuntimeException("simulated kill")
          scoreFn(df)
        }
      }
      val committed = Manifest.committedBuckets(spark, dir)
      assert(committed.size == 3, s"expected 3 committed, got $committed")

      // resume: only the remaining 5 run
      val resumed = Manifest.runBucketed(spark, input, dir, "url", 8)(scoreFn)
      assert(resumed == 5)

      // final output equals a clean one-shot run
      val out = Manifest.readCommitted(spark, dir)
        .select("url", "overall_score").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val clean = scoreFn(input).select("url", "overall_score").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(out == clean)
    }
  }

  test("input is staged exactly once; resume reuses the staging layout") {
    withDir("graft_manifest_stage") { dir =>
      val input = SynthCorpus.docsRaw(spark, 100, 4).toDF()

      // kill after 1 bucket: staging must already be complete
      var processed = 0
      intercept[RuntimeException] {
        Manifest.runBucketed(spark, input, dir, "url", 4) { df =>
          processed += 1
          if (processed > 1) throw new RuntimeException("simulated kill")
          scoreFn(df)
        }
      }
      val marker = new java.io.File(s"${Manifest.stagingPath(dir)}/_SUCCESS")
      assert(marker.exists(), "staging layout missing after first run")
      val stagedAt = marker.lastModified()

      // resume: the staged layout is REUSED (single full-input pass total),
      // and each staged bucket directory holds exactly that bucket's rows
      assert(Manifest.runBucketed(spark, input, dir, "url", 4)(scoreFn) == 3)
      assert(marker.lastModified() == stagedAt, "resume re-staged the input")
      val totalStaged = spark.read.parquet(Manifest.stagingPath(dir)).count()
      assert(totalStaged == 100)
      assert(Manifest.readCommitted(spark, dir).count() == 100)
    }
  }

  test("kill mid-run on a derive sink: resume recomputes zero committed buckets") {
    // the round-3 verdict's done-bar: runBucketed is generic, but only the
    // score path was kill-tested — drive the training-example DERIVE sink
    // (no `keep` column, exploded row counts) through the same protocol
    withDir("graft_manifest_derive") { dir =>
      val corpus = spark.read.parquet(
          graft.fixtures.SynthCorpus.materializedCorpus(spark))
        .withColumn("subject", lit("Physics"))
      def deriveFn(df: org.apache.spark.sql.DataFrame) =
        graft.derive.Derive.trainingExamples(df, "url", "text", "subject")
          .select("id", "url", "example_type", "problem_statement",
            "step_count", "quality_score")

      var processed = 0
      intercept[RuntimeException] {
        Manifest.runBucketed(spark, corpus, dir, "url", 4) { df =>
          processed += 1
          if (processed > 2) throw new RuntimeException("simulated kill")
          deriveFn(df)
        }
      }
      assert(Manifest.committedBuckets(spark, dir).size == 2)

      // resume: exactly the 2 missing buckets run — 0 recomputed
      var resumedCalls = 0
      val resumed = Manifest.runBucketed(spark, corpus, dir, "url", 4) { df =>
        resumedCalls += 1; deriveFn(df)
      }
      assert(resumed == 2 && resumedCalls == 2,
        s"resume recomputed committed buckets ($resumed, $resumedCalls)")

      // the union of bucket outputs equals a clean one-shot derive
      val out = Manifest.readCommitted(spark, dir)
        .select("id", "example_type", "problem_statement").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted
      val clean = deriveFn(corpus)
        .select("id", "example_type", "problem_statement").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).sorted
      assert(out.length > 0 && out.sameElements(clean))

      // manifest metrics reflect the derive sink: n_rows = exploded examples
      val m = spark.read.parquet(Manifest.manifestPath(dir))
      assert(m.agg(sum("n_rows")).head().getLong(0) == clean.length)
    }
  }

  test("pendingRows anti-join filters committed buckets") {
    withDir("graft_manifest_anti") { dir =>
      val input = SynthCorpus.docsRaw(spark, 100, 4).toDF()
        .withColumn("bucket", pmod(xxhash64(col("url")), lit(4L)))
      // commit bucket 0 manually
      Manifest.commit(spark, dir, Manifest.BucketMeta(0L, 0L, 0L, 0L, 0L,
        new java.sql.Timestamp(0L)))
      val pending = Manifest.pendingRows(input, spark, dir, "bucket")
      assert(pending.filter(col("bucket") === 0L).count() == 0)
      assert(pending.count() == input.filter(col("bucket") =!= 0L).count())
    }
  }

  test("manifest rows carry lineage and metrics") {
    withDir("graft_manifest_meta") { dir =>
      val input = SynthCorpus.docsRaw(spark, 50, 2).toDF()
      Manifest.runBucketed(spark, input, dir, "url", 2)(scoreFn)
      val m = spark.read.parquet(Manifest.manifestPath(dir))
      assert(m.count() == 2)
      val total = m.agg(sum("n_rows")).head().getLong(0)
      assert(total == 50)
      assert(m.filter(col("input_fingerprint") === 0L).count() == 0)
      assert(m.filter(col("duration_ms") < 0L).count() == 0)
    }
  }
}
