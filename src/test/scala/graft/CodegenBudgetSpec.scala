package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.execution.debug.codegenStringSeq

import graft.fixtures.SynthCorpus

/** Tripwire for the fused scoring span: HotSpot never JIT-compiles a
  * method of more than 8,000 bytes of bytecode (`HugeMethodLimit`), so a
  * fused column that pushes a generated method past it leaves the hot loop
  * interpreted, silently. The input is SynthCorpus docs read back from
  * parquet, the shape the curation benchmark scores.
  */
class CodegenBudgetSpec extends SparkTestBase {

  test("every generated method of Pipeline.score stays under 8,000 bytes") {
    val dir = Files.createTempDirectory("graft-codegen").toFile
    val sizes = try {
      SynthCorpus.docsRaw(spark, 1200, 4).write.parquet(s"$dir/docs")
      val scored = Pipeline.score(spark.read.parquet(s"$dir/docs"), spark)
      codegenStringSeq(scored.queryExecution.executedPlan).map(_._3.maxMethodCodeSize)
    } finally FileUtils.deleteDirectory(dir)
    assert(sizes.nonEmpty, "no whole-stage codegen span")
    info(s"largest method per codegen stage (bytes): ${sizes.mkString(", ")}")
    // UNAVAILABLE (-1) means the class failed to compile and the stage
    // fell back to interpreted evaluation
    assert(sizes.forall(s => s > 0 && s < 8000), s"max method sizes: $sizes")
  }
}
