package graft

import org.apache.spark.sql.functions._
import graft.derive.RlBuilder

/** The fused RlExample kernels must equal the pure-Column reference form
  * byte-for-byte (struct fields INCLUDING the raw double quality) on the
  * fixture corpus, degenerate inputs, and seeded anchor-dense random
  * docs — any Spark-semantics mismatch in the mirrors (space-only trim,
  * code-point length, trailing-empty splits, three-valued gates, null
  * concat propagation) shows up here before the goldens or the driver.
  */
class RlExampleParitySpec extends SparkTestBase {
  import spark.implicits._

  private val degenerate = Seq(
    null, "", " ", ".", "...", "\n\n", "a.",
    "Problem: Solution:", "Problem:  Solution:  x",
    "Given . Therefore .", "Calculate . We have = 1",
    "Problem: x Solution: y " * 200, ". " * 500, "= " * 300,
    "Problem: short Solution: also short",
    // astral-plane chars: Column length counts CODE POINTS — a
    // String.length mirror would count UTF-16 units and shift the gates
    "Problem: 𝄞𝄞 find the energy 🚀 of the field mass now " +
      "Solution: we use the equation and 𝒜 we obtain the energy. " +
      "First, we substitute the mass. Then we obtain it. Therefore E = 3.",
    "Given 𝄞 the wave equation. We derive 🚀 the energy momentum. " +
      "Therefore the relation follows from the equation w = c k.",
    // anchor-rich, gate-exercising bodies
    "Problem: find the energy of the field when mass is 3 kg and the " +
      "velocity field is uniform. Solution: we use the energy equation " +
      "E = m c c. First, we substitute the mass. Then, we obtain the " +
      "energy. Therefore the energy is E = 27 J.",
    "Given the wave equation for the field. We derive the dispersion " +
      "relation using the energy and momentum. Therefore the relation " +
      "follows from the equation w = c k.",
    "The value of x = 3 m here and the force balance gives more. " +
      "Therefore the value is confirmed as x = 3 m.",
    "Find the mass. Solution: the mass is m = F / a and we calculate " +
      "it using the force equation. We obtain m = 2 kg. Therefore done.")

  // seeded pseudo-random anchor-dense docs: enough structure to push
  // candidates through every gate branch
  private def randomDoc(seed: Long): String = {
    var x = seed | 1L
    def nxt(n: Int): Int = {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      ((x % n + n) % n).toInt
    }
    val vocab = Seq("Problem:", "Solution:", "Given", "Therefore", "Thus",
      "We derive", "We have", "We get", "energy", "force", "mass",
      "equation", "field", "velocity", "x = 3", "E = m c c", ".", "\n",
      "the", "and", "of", "we", "is", "this", "that", "in", "to", "a",
      "Find", "Calculate", "The value of", "From", "Using", "we obtain",
      "this gives", "α", "Fig. 3", "[12]", "page 4", "  ", "?", "!")
    (0 until (40 + nxt(120))).map(_ => vocab(nxt(vocab.length))).mkString(" ")
  }

  test("fused example processing equals the Column reference form") {
    val texts = ((0L until 80L).map(graft.fixtures.SynthCorpus.bodyFor) ++
      degenerate ++ (1L to 60L).map(randomDoc)).toSeq
    val df = texts.toDF("text").cache()
    val both = df.select(
      RlBuilder.extractedExamples(col("text")).as("fused"),
      RlBuilder.extractedExamplesRef(col("text")).as("ref"),
      RlBuilder.v3ExtractedExamples(col("text")).as("fused3"),
      RlBuilder.v3ExtractedExamplesRef(col("text")).as("ref3"))
      .collect()
    both.zip(texts).foreach { case (r, t) =>
      assert(r.get(0) == r.get(1),
        s"v2 fused != ref on: ${Option(t).map(_.take(160))}\n" +
          s"fused: ${r.get(0)}\nref:   ${r.get(1)}")
      assert(r.get(2) == r.get(3),
        s"v3 fused != ref on: ${Option(t).map(_.take(160))}\n" +
          s"fused: ${r.get(2)}\nref:   ${r.get(3)}")
    }
    // and the corpus actually exercises non-empty outputs
    assert(both.count(r => r.getSeq[Any](0).nonEmpty) > 5)
    assert(both.count(r => r.getSeq[Any](2).nonEmpty) > 2)
    df.unpersist()
  }
}
