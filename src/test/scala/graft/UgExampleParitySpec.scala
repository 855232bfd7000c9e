package graft

import org.apache.spark.sql.functions._
import graft.derive.{Extract, Gates, UgBuilders, UgExample}

/** The fused UG per-block expressions must equal the Column forms
  * byte-for-byte — the Column forms stay the oracle surface (q45/q49),
  * so any mirror drift would silently decouple the executed path from
  * the oracle-checked one.
  */
class UgExampleParitySpec extends SparkTestBase {
  import spark.implicits._

  private val degenerate = Seq(
    null, "", " ", ".", "...", "\n\n", "a.", "= 5", ". " * 400,
    "Given x. Therefore energy equation holds and we calculate more. " * 8,
    "Step 1: solve the energy equation for the mass now. " * 10,
    "Problem: compute the force on the particle given the field. " +
      "Solution: we substitute into the equation and obtain the result. " +
      "Therefore the force equals F = q E as derived above in detail.",
    "ünïcödé Given α. Therefore the energy equation gives it. " * 6,
    "𝄞 Given the 🚀 energy equation we solve for mass. Therefore 𝒜 " +
      "the result follows and we obtain it as the solution now. " * 4,
    "page 3 figure 2 Given x therefore equation energy " * 10)

  private def randomDoc(seed: Long): String = {
    var x = seed | 1L
    def nxt(n: Int): Int = {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      ((x % n + n) % n).toInt
    }
    val vocab = Seq("Given", "Therefore", "Thus", "equation", "formula",
      "energy", "force", "field", "mass", "we obtain", "we get", "Step 3:",
      "First", "Then", "conservation of momentum", "law of gravity",
      "theorem of calculus", "derivative", "vector", "solve", "calculate",
      "page 4", "Fig. 2", "[7]", "Page 12", "Eq. (3)", ".", "!", "?", "\n",
      "the", "and", "of", "we", "is", "in", "to", "α", "∇", "x = 3",
      "Problem:", "Solution:", "quantum", "tensor", "lagrangian",
      "quantum mechanics", "thermodynamics")
    (0 until (30 + nxt(150))).map(_ => vocab(nxt(vocab.length))).mkString(" ")
  }

  private lazy val texts =
    ((0L until 80L).map(graft.fixtures.SynthCorpus.bodyFor) ++ degenerate ++
      (1L to 60L).map(randomDoc)).toSeq

  test("fused complete-derivation extraction equals the Column form") {
    val df = texts.toDF("text")
    val both = df.select(
      UgBuilders.ugFindCompleteDerivations(col("text")).as("fused"),
      UgBuilders.ugFindCompleteDerivationsRef(col("text")).as("ref"))
      .collect()
    both.zip(texts).foreach { case (r, t) =>
      assert(r.get(0) == r.get(1),
        s"fused != ref on: ${Option(t).map(_.take(160))}")
    }
    assert(both.count(_.getSeq[Any](0).nonEmpty) > 3)
  }

  test("fused derivation clean + per-block metadata equal the Column forms") {
    // per-block stage inputs are derivation-cleaned blocks — build them
    // the same way, then compare every metadata field
    val blocks = texts.filter(_ != null).map(graft.derive.UgExample.derivationClean)
      .filter(_.nonEmpty) ++ Seq(
      "Given the energy equation we solve for the mass. Therefore m = E.",
      "Step 1: solve the energy equation for the field mass and charge now.")
    val df = blocks.toDF("cleaned").withColumn("subject", lit("Physics"))
    // UgExample.derivationCleanCol vs Gates.derivationClean over the RAW texts
    val rawDf = texts.map(t => Option(t).getOrElse("")).toDF("text")
    val cleanPairs = rawDf.select(
      UgExample.derivationCleanCol(col("text")).as("fused"),
      Gates.derivationClean(col("text")).as("ref")).collect()
    cleanPairs.foreach(r => assert(r.getString(0) == r.getString(1)))

    val both = df.select(
      UgExample.metaCol(col("cleaned"), col("subject")).as("fused"),
      struct(
        UgBuilders.ugProblemStatement(col("cleaned")).as("problem_statement"),
        UgBuilders.ugSolutionSteps(col("cleaned")).as("steps"),
        size(UgBuilders.ugSolutionSteps(col("cleaned"))).as("step_count"),
        UgBuilders.ugDifficulty(col("cleaned")).as("difficulty"),
        Extract.topic(col("cleaned"), col("subject")).as("topic"),
        Extract.reasoningType(col("cleaned")).as("reasoning_type"),
        Extract.prerequisites(col("cleaned")).as("prerequisites"),
        Extract.concepts(col("cleaned")).as("concepts"),
        graft.extract.Clean.limitRawText(col("cleaned")).as("raw_text")).as("ref"))
      .collect()
    both.zip(blocks).foreach { case (r, b) =>
      assert(r.get(0) == r.get(1),
        s"meta fused != ref on block: ${b.take(160)}\n" +
          s"fused: ${r.get(0)}\nref:   ${r.get(1)}")
    }
  }
}
