package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.types.{ArrayType, StringType}

import graft.derive.Derive
import graft.fixtures.SynthCorpus
import graft.functions.TermMask

/** The shape of the compiled scorer and training gate, over SynthCorpus
  * docs read back from parquet (the shape the curation benchmark scores):
  * each stage scans a gate sample once, lowers no text sample, and the
  * scorer is one whole-stage-codegen span.
  */
class ScorerPlanSpec extends SparkTestBase {

  private lazy val dir = Files.createTempDirectory("graft-plan").toFile

  private lazy val (scored, training) = {
    SynthCorpus.docsRaw(spark, 400, 4).write.parquet(s"$dir/docs")
    Pipeline.extract(spark.read.parquet(s"$dir/docs")).write.parquet(s"$dir/ext")
    (Pipeline.score(spark.read.parquet(s"$dir/docs"), spark),
      Derive.trainingExamples(spark.read.parquet(s"$dir/ext"), "url", "text", "url"))
  }

  override def afterAll(): Unit = FileUtils.deleteDirectory(dir)

  private val Kernel = TermMask.getClass.getName.stripSuffix("$")

  /** The operators of one codegen stage: below it up to its InputAdapters. */
  private def stageNodes(wsc: WholeStageCodegenExec): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(walk)
    }
    walk(wsc.child)
  }

  /** Per stage: its generated code and the distinct (text, n) samples of
    * the term-mask calls among its operators.
    */
  private def stages(df: DataFrame): Seq[(Int, String, Int)] = {
    val plan = df.queryExecution.executedPlan
    val samples = plan.collect { case w: WholeStageCodegenExec =>
      w.codegenStageId -> stageNodes(w).flatMap(_.expressions).flatMap(_.collect {
        case si: StaticInvoke if si.staticObject.getName == Kernel =>
          (si.arguments.head.canonicalized, si.arguments(1).asInstanceOf[Literal].value)
      }).distinct.size
    }.toMap
    codegenStringSeq(plan).map { case (_, code, _) =>
      val id = "codegenStageId=(\\d+)".r.findFirstMatchIn(code).get.group(1).toInt
      (id, code, samples(id))
    }
  }

  /** Variables assigned a substring, and `execBinaryICU` calls on one. */
  private def loweredSubstrings(code: String): Seq[String] = {
    val subs = "(\\w+(?:\\[\\d+\\])?) = [\\w\\[\\]]+\\.substringSQL\\(".r
      .findAllMatchIn(code).map(_.group(1)).toSet
    "execBinaryICU\\(([^()]*(?:\\([^()]*\\))?)\\)".r.findAllMatchIn(code).map(_.group(1))
      .filter(a => a.contains("substringSQL") || subs(a)).toSeq
  }

  for ((name, df) <- Seq("Pipeline.score" -> (() => scored),
    "Derive.trainingExamples" -> (() => training))) {
    test(s"$name scans each term sample once per stage and lowers no sample") {
      val st = stages(df())
      assert(st.nonEmpty)
      st.foreach { case (id, code, samples) =>
        val calls = code.split(java.util.regex.Pattern.quote(s"$Kernel.scan(")).length - 1
        info(s"stage $id: $calls term-mask calls, $samples distinct samples")
        assert(calls <= samples, s"stage $id calls the term-mask kernel $calls times " +
          s"for $samples samples")
        val lowered = loweredSubstrings(code)
        assert(lowered.isEmpty, s"stage $id lowers a substring: ${lowered.take(3)}")
      }
      assert(st.map(_._3).sum > 0, "no term-mask call found")
    }
  }

  test("Pipeline.score runs as one whole-stage-codegen span") {
    def outside(p: SparkPlan, inStage: Boolean): Seq[SparkPlan] = p match {
      case w: WholeStageCodegenExec => outside(w.child, inStage = true)
      case a: InputAdapter => a.children.flatMap(outside(_, inStage = false))
      case _ => (if (!inStage) Seq(p) else Nil) ++ p.children.flatMap(outside(_, inStage))
    }
    val plan = scored.queryExecution.executedPlan
    val unfused = outside(plan, inStage = false).collect { case p: ProjectExec => p }
    assert(unfused.isEmpty, s"Project outside codegen:\n${unfused.map(_.simpleString(200))}")
    assert(scored.schema("issues").dataType == ArrayType(StringType, containsNull = true))
    assert(!scored.schema("issues").nullable)
  }
}
