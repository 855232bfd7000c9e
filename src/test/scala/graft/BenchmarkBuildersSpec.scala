package graft

import org.apache.spark.sql.functions._
import graft.derive.BenchmarkBuilders

/** Golden tests for the v2/v3 benchmark builders. Expected values are
  * hand-derived from the reference logic:
  *   v2 — analysis/enhanced_benchmark_builder.py:23-383,461-500
  *   v3 — enhanced_analyzer_integration2.py:39-435
  */
class BenchmarkBuildersSpec extends SparkTestBase {
  import spark.implicits._

  /** A planted document that trips EVERY concept extractor:
    * equation (E = ...), v2+v3 derivation, scenario, numerical value,
    * principle; padded past the 800-char v2 suitability floor.
    */
  private val richText: String = {
    val pad = "The physics of wave motion in a dispersive medium is discussed " +
      "at length with care and detail in this extended section. " * 8
    "We study the total energy balance of the oscillator. " +
      "E = m v v / 2 + k x x / 2 " +
      "holds for the system. From the base energy relation written here we obtain " +
      "a refined momentum result. " +
      "From the momentum relation of the particle motion we proceed carefully. " +
      "Consider a particle in a harmonic potential well with large mass density. " +
      "The measured value is m = 9.11 kg for the test body. " +
      "conservation of energy constrains the allowed trajectories here. " + pad
  }

  private def scoredRow(issues: Seq[String]) = Seq(
    ("https://host1.example.com/page/1", richText, "Classical Mechanics",
      0.85, "SOPHISTICATED_ERROR", issues)
  ).toDF("url", "text", "subject", "sophistication", "recommendation", "issues")

  test("v2: all four problem types fire on the rich planted document") {
    val out = BenchmarkBuilders.benchmarkItemsV2(
      scoredRow(Seq("potential mathematical errors", "logical consistency concerns")),
      "url", "text", "subject").collect()
    val types = out.map(_.getAs[String]("type")).toSet
    assert(types == Set("mathematical_derivation_analysis",
      "physical_scenario_analysis", "error_detection_analysis",
      "numerical_analysis"), s"types: $types")
    assert(out.forall(_.getAs[Int]("problem_count") == 4))
    // domain from 'Classical Mechanics' (builder.py:444-446)
    assert(out.forall(_.getAs[String]("domain") == "mechanics"))
    // no advanced indicators planted -> introductory (builder.py:461-481)
    assert(out.forall(_.getAs[String]("difficulty_level") == "introductory"))
    // per-problem difficulty: error detection is advanced, others intermediate
    val byType = out.map(r => r.getAs[String]("type") -> r.getAs[String]("difficulty")).toMap
    assert(byType("error_detection_analysis") == "advanced")
    assert(byType("numerical_analysis") == "intermediate")
    // statement templating carries the actual extracted content
    val errStmt = out.find(_.getAs[String]("type") == "error_detection_analysis")
      .get.getAs[String]("problem_statement")
    assert(errStmt.contains("sophistication level 0.85"))
    assert(errStmt.contains("recommendation: SOPHISTICATED_ERROR"))
    assert(errStmt.contains("1. potential mathematical errors"))
    val numStmt = out.find(_.getAs[String]("type") == "numerical_analysis")
      .get.getAs[String]("problem_statement")
    assert(numStmt.contains("• m = 9.11 kg"))
    // ids are prefixed and carry the url + mod-10000 hash
    assert(out.forall(r => r.getAs[String]("problem_id")
      .contains("https://host1.example.com/page/1_")))
  }

  test("v2: no issues -> no error-detection problem; 3 problems remain") {
    val out = BenchmarkBuilders.benchmarkItemsV2(scoredRow(Nil),
      "url", "text", "subject").collect()
    assert(out.length == 3)
    assert(!out.exists(_.getAs[String]("type") == "error_detection_analysis"))
    assert(out.forall(_.getAs[Int]("problem_count") == 3))
  }

  test("v2: suitability gate rejects short / concept-free docs") {
    val thin = Seq(
      ("u1", "too short", "Physics", 0.5, "REJECT", Seq.empty[String]),
      ("u2", "no equations here at all just words " * 40, "Physics",
        0.5, "REJECT", Seq.empty[String])
    ).toDF("url", "text", "subject", "sophistication", "recommendation", "issues")
    assert(BenchmarkBuilders.benchmarkItemsV2(thin, "url", "text", "subject")
      .count() == 0)
  }

  test("v2: concept difficulty escalates with advanced indicators") {
    // three advanced hits (2 advanced-math equations + 1 advanced principle)
    // -> 'advanced' (builder.py:475-481)
    val advText = richText +
      " H = ∂ psi / ∂ t + ∇ phi defines evolution. " +
      " T = ∫ f dx + tensor contraction terms. " +
      " conservation of symmetry arguments apply throughout this work. "
    val df = Seq(("u", advText, "Quantum Physics", 0.9, "CREATIVE_APPROACH",
      Seq.empty[String]))
      .toDF("url", "text", "subject", "sophistication", "recommendation", "issues")
    val out = BenchmarkBuilders.benchmarkItemsV2(df, "url", "text", "subject").collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[String]("difficulty_level") == "advanced"),
      out.map(_.getAs[String]("difficulty_level")).toSeq.toString)
    assert(out.forall(_.getAs[String]("domain") == "quantum"))
  }

  test("v3: all four problem types fire; scenario difficulty tracks issues") {
    val withIssues = BenchmarkBuilders.benchmarkItemsV3(
      scoredRow(Seq("weak literature integration")), "url", "text", "subject")
      .collect()
    val types = withIssues.map(_.getAs[String]("type")).toSet
    assert(types == Set("equation_analysis", "derivation_verification",
      "numerical_analysis", "scenario_analysis"), s"types: $types")
    val byType = withIssues.map(r =>
      r.getAs[String]("type") -> r.getAs[String]("difficulty")).toMap
    assert(byType("derivation_verification") == "advanced")
    assert(byType("scenario_analysis") == "advanced") // issues nonempty
    assert(byType("equation_analysis") == "intermediate")
    val scenStmt = withIssues.find(_.getAs[String]("type") == "scenario_analysis")
      .get.getAs[String]("problem_statement")
    assert(scenStmt.contains("potential issues including: weak literature integration"))

    val noIssues = BenchmarkBuilders.benchmarkItemsV3(scoredRow(Nil),
      "url", "text", "subject").collect()
    val byType2 = noIssues.map(r =>
      r.getAs[String]("type") -> r.getAs[String]("difficulty")).toMap
    assert(byType2("scenario_analysis") == "intermediate")
    assert(!noIssues.find(_.getAs[String]("type") == "scenario_analysis")
      .get.getAs[String]("problem_statement").contains("Critical Evaluation"))
  }

  test("v3: derivation pairs carry (starting_point -> result) from the text") {
    val out = BenchmarkBuilders.benchmarkItemsV3(scoredRow(Nil),
      "url", "text", "subject").collect()
    val d = out.find(_.getAs[String]("type") == "derivation_verification").get
    // v3 pattern: 'From <start> we obtain <result>.' (integration2.py:99)
    assert(d.getAs[String]("source") ==
      "the base energy relation written here -> a refined momentum result")
    val stmt = d.getAs[String]("problem_statement")
    assert(stmt.contains("**Starting Point**: the base energy relation written here"))
    assert(stmt.contains("**Claimed Result**: a refined momentum result"))
  }

  test("fused concept extraction equals the Column battery forms") {
    import graft.derive.ConceptExtract
    def fused2(c: org.apache.spark.sql.Column) = ConceptExtract.v2Col(c)
    def fused3(c: org.apache.spark.sql.Column) = ConceptExtract.v3Col(c)
    val corpus = graft.fixtures.SynthCorpus.docsRaw(spark, 200, 4).toDF()
      .withColumn("text", graft.extract.Clean.basicClean(
        graft.extract.HtmlText.extractCol(col("html"))))
      .select("text")
      .union(Seq(richText, "", "E = m c c no concepts? we study nothing.").toDF("text"))
    val t = col("text")
    val bad2 = corpus.withColumn("cx", fused2(t)).filter(
      col("cx.equations") =!= BenchmarkBuilders.v2Equations(t) ||
      col("cx.derivations") =!= BenchmarkBuilders.v2Derivations(t) ||
      col("cx.scenarios") =!= BenchmarkBuilders.v2Scenarios(t) ||
      col("cx.numericals") =!= BenchmarkBuilders.v2Numericals(t) ||
      col("cx.principles") =!= BenchmarkBuilders.v2Principles(t)).count()
    assert(bad2 == 0)
    val bad3 = corpus.withColumn("cx", fused3(t)).filter(
      col("cx.equations") =!= BenchmarkBuilders.v3Equations(t) ||
      col("cx.derivations") =!= BenchmarkBuilders.v3Derivations(t) ||
      col("cx.numericals") =!= BenchmarkBuilders.v3Numericals(t) ||
      col("cx.scenarios") =!= BenchmarkBuilders.v3Scenarios(t)).count()
    assert(bad3 == 0)
  }

  test("v3: suitability floor is 600 chars (vs v2's 800)") {
    // ~700 chars with equations: v3 accepts, v2 rejects
    val mid = ("Consider a particle system with mass and wave energy. " +
      "E = m v v / 2 stays fixed. ") + ("filler words of physics energy " * 20)
    assert(mid.length > 600 && mid.length < 800, s"len=${mid.length}")
    val df = Seq(("u", mid, "Physics", 0.5, "EDUCATIONAL_FAILURE", Seq.empty[String]))
      .toDF("url", "text", "subject", "sophistication", "recommendation", "issues")
    assert(BenchmarkBuilders.benchmarkItemsV3(df, "url", "text", "subject").count() > 0)
    assert(BenchmarkBuilders.benchmarkItemsV2(df, "url", "text", "subject").count() == 0)
  }
}
