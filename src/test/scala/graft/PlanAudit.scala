package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import graft.derive.{RlBuilder, UgBuilders}
import graft.functions.TermScanner

class PlanAudit extends SparkTestBase {
  import spark.implicits._

  test("mask/battery occurrence counts in the full-chain optimized plans", ProbeTag) {
    val corpus = Seq.fill(3)("Problem: p Solution: s Given g. We derive d Therefore t")
      .zipWithIndex.map { case (t, i) => (s"http://h/$i", t, "Physics", "T") }
      .toDF("url", "text", "subject", "title").cache()
    def countIn(e: Expression, pred: Expression => Boolean): Int =
      (if (pred(e)) 1 else 0) + e.children.map(countIn(_, pred)).sum
    // an anchor mask is the term-mask kernel over one of the anchor lists
    val anchorTerms = Set(RlBuilder.V2AnchorTerms, RlBuilder.V3AnchorTerms,
      UgBuilders.UgWordAnchorTerms)
    def isAnchorMask(e: Expression): Boolean = e match {
      case si: StaticInvoke => si.arguments.exists {
        case Literal(sc: TermScanner, _) => anchorTerms(sc.terms)
        case _ => false
      }
      case _ => false
    }
    // maxMasks pins exactly-once evaluation of the per-row anchor mask:
    // CollapseProject inlining a Let-bound mask into N use sites (the
    // round-2 56x battery trap) would show up here as mask nodes > cap
    def audit(name: String, maxMasks: Int,
              df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.optimizedPlan
      var masks = 0; var scans = 0
      plan.foreach { node =>
        node.expressions.foreach { e =>
          masks += countIn(e, isAnchorMask)
          scans += countIn(e, _.getClass.getSimpleName.startsWith("RegExpExtract"))
        }
      }
      info(s"$name: mask nodes=$masks regexp nodes=$scans")
      assert(masks <= maxMasks, s"$name: anchor mask duplicated ($masks nodes)")
    }
    audit("rlTrainingExamples", maxMasks = 1,
      graft.derive.RlBuilder.rlTrainingExamples(corpus, "url", "text", "subject", "title"))
    audit("rlTrainingExamplesV3", maxMasks = 1,
      graft.derive.RlBuilder.rlTrainingExamplesV3(corpus, "url", "text", "subject", "title"))
    audit("ugTrainingExamples", maxMasks = 1,
      graft.derive.UgBuilders.ugTrainingExamples(corpus, "url", "text", "subject", "title"))
    audit("ugBenchmarkItems", maxMasks = 1,
      graft.derive.UgBuilders.ugBenchmarkItems(
        corpus.withColumn("issues", array(lit("i1")))
          .withColumn("sophistication", lit(5.0))
          .withColumn("recommendation", lit("R"))
          .withColumn("overall_score", lit(0.5))
          .withColumn("abstract", col("text")),
        "url", "text", "subject", "title", "abstract"))
  }
}
