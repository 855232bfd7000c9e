package graft

import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Contains, Expression}
import graft.derive.{RlBuilder, UgBuilders}

/** Asserts the anchor-guard STRUCTURE of the builder batteries: every
  * heavy regex scan (`regexp_extract_all`) must sit inside the branch
  * value of a CaseWhen whose condition tests literal anchors
  * (`Contains`). CaseWhen branch values evaluate lazily per row, so this
  * shape is exactly "anchor-free docs run zero battery scans".
  *
  * This is the regression test for the round-2 judge finding: wrapping
  * only the group-1 scan left group-2/3 scans inside `Let`'s
  * unconditional `transform(array(v), …)` binding — values were right
  * but every anchor-free row still paid 1–2 nested-lazy DOTALL scans
  * per pattern.
  */
class AnchorGuardSpec extends SparkTestBase {

  /** Collect the regex-pattern literals of scans NOT dominated by an
    * anchor-conditioned CaseWhen branch. A CaseWhen counts as an anchor
    * guard iff some branch condition contains a `Contains` (the
    * literal-anchor test); the null-guard CaseWhen inside `hits`
    * (condition `IsNull`) does NOT reset the flag. Per-candidate helper
    * scans inside transform lambdas over a guarded array surface here
    * too — callers therefore assert on the FULL-TEXT battery patterns
    * only (lambda bodies never run when the guarded array is empty).
    */
  private def unguardedScans(e: Expression, guarded: Boolean): Seq[String] = e match {
    case cw: CaseWhen =>
      // an anchor guard tests literal containment — either per-term
      // Contains or a bit test against the single-pass whole-text term
      // mask (BitwiseAnd on the TermSample mask)
      val anchorGuard = cw.branches.exists { case (c, _) =>
        c.exists(x => x.isInstanceOf[Contains] ||
          x.isInstanceOf[org.apache.spark.sql.catalyst.expressions.BitwiseAnd])
      }
      cw.branches.flatMap { case (c, v) =>
        unguardedScans(c, guarded) ++ unguardedScans(v, guarded || anchorGuard)
      } ++ cw.elseValue.toSeq.flatMap(unguardedScans(_, guarded || anchorGuard))
    case other =>
      val self =
        if (other.getClass.getSimpleName.startsWith("RegExpExtract") && !guarded)
          other.children.collectFirst {
            case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
              if v != null && v.toString.nonEmpty && !v.toString.forall(_.isDigit) =>
              v.toString
          }.toSeq
        else Seq.empty
      self ++ other.children.flatMap(unguardedScans(_, guarded))
  }

  private def unguardedBatteryScans(c: org.apache.spark.sql.Column,
                                    batteries: Seq[String]): Seq[String] = {
    import spark.implicits._
    val df = Seq("x").toDF("text").withColumn("subject", lit("Physics"))
      .select(c.as("out"))
    // both the authored shape AND the post-optimizer shape: the optimizer
    // (CollapseProject, SimplifyConditionals, PushFoldableIntoBranches)
    // must not have hoisted a battery scan out of its guard branch
    (df.queryExecution.analyzed.expressions ++
      df.queryExecution.optimizedPlan.expressions)
      .flatMap(unguardedScans(_, guarded = false))
      .filter(batteries.contains)
  }

  test("v2 RL battery scans are all anchor-guarded") {
    val batteries = RlBuilder.ExplicitPatterns ++
      RlBuilder.DerivationSeqPatterns ++ RlBuilder.CalculationPatterns
    assert(unguardedBatteryScans(
      RlBuilder.extractedExamples(col("text")), batteries) === Seq.empty)
  }

  test("v3 RL battery scans are all anchor-guarded") {
    val batteries = RlBuilder.V3ExplicitPatterns :+ RlBuilder.V3DerivationPattern
    assert(unguardedBatteryScans(
      RlBuilder.v3ExtractedExamples(col("text")), batteries) === Seq.empty)
  }

  test("UG benchmark battery scans are all anchor-guarded") {
    val batteries = UgBuilders.UgEqPatterns ++ UgBuilders.UgDerivPatterns ++
      UgBuilders.UgProblemPatterns ++ UgBuilders.UgDerivationPatterns
    assert(unguardedBatteryScans(
      UgBuilders.ugEquations(col("text")), batteries) === Seq.empty)
    assert(unguardedBatteryScans(
      UgBuilders.ugDerivations(col("text")), batteries) === Seq.empty)
    assert(unguardedBatteryScans(
      UgBuilders.ugProblemSolutions(col("text")), batteries) === Seq.empty)
    assert(unguardedBatteryScans(
      UgBuilders.ugFindCompleteDerivations(col("text")), batteries) === Seq.empty)
  }

  test("the traversal itself detects an unguarded scan (sanity)") {
    import org.apache.spark.sql.functions.regexp_extract_all
    val p = RlBuilder.ExplicitPatterns.head
    assert(unguardedBatteryScans(
      regexp_extract_all(col("text"), lit(p), lit(1)),
      RlBuilder.ExplicitPatterns) === Seq(p))
  }
}
