package graft

import org.apache.spark.sql.functions._
import graft.derive.Gates

/** Golden tests for the remaining §2 operators (P9, C7/C9, E14/E19). */
class GatesSpec extends SparkTestBase {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, in: String): org.apache.spark.sql.Row =
    Seq(in).toDF("t").select(c.as("r")).head()

  test("P9 meaningful-equation predicate") {
    def check(s: String) = one(Gates.isMeaningfulEquation(col("t")), s).getBoolean(0)
    assert(check("E = m c^2 + p")) // '=', physics var E, op +, len>8
    assert(!check("x = y"))        // too short
    assert(!check("energy balance holds")) // no '='
  }

  test("C7 derivation clean: artifacts stripped, meaningful sentences joined") {
    val in = "We derive the energy balance from first principles [12]. " +
      "Page 3 noise here....... " +
      "Therefore the force equals mass times acceleration Eq. (4). short."
    val got = one(Gates.derivationClean(col("t")), in).getString(0)
    assert(got.contains("derive the energy"))
    assert(!got.contains("[12]"))
    assert(!got.contains("Eq. (4)"))
    assert(got.endsWith("."))
  }

  test("C9 clean+validate returns NULL on junk, cleaned text on physics") {
    val good = one(Gates.cleanAndValidate(col("t")),
      "the energy of the particle is E = 5 J in this trap").getString(0)
    assert(good != null && good.contains("energy"))
    assert(one(Gates.cleanAndValidate(col("t")), "zx qv plk wrt nmb").isNullAt(0))
    assert(one(Gates.cleanAndValidate(col("t")), "short").isNullAt(0))
  }

  test("E14 problem/solution split at first separator end; midpoint fallback") {
    val r = one(Gates.problemSolutionParts(col("t")),
      "Find the mass. Solution: m equals E over c squared.")
    assert(r.getStruct(0).getString(0).endsWith("Solution:"))
    assert(r.getStruct(0).getString(1).startsWith("m equals"))
    val fb = one(Gates.problemSolutionParts(col("t")), "abcdefgh")
    assert(fb.getStruct(0).getString(0) == "abcd")
    assert(fb.getStruct(0).getString(1) == "efgh")
  }

  test("E19 physics domain classifier from subject") {
    def d(s: String) = one(Gates.physicsDomain(col("t")), s).getString(0)
    assert(d("Classical Mechanics") == "mechanics")
    assert(d("Electromagnetism and fields") == "electromagnetism")
    assert(d("Quantum Gravity") == "quantum") // quantum wins before relativity
    assert(d("underwater basket weaving") == "general_physics")
  }
}
