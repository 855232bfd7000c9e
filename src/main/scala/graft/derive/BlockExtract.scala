package graft.derive

import DeriveHelpers._
import graft.rules.Heuristics.termCountStr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused E13 block extraction (complete derivations / worked solutions /
  * proofs) — the Catalyst form ran 14 `regexp_extract_all` materializations
  * plus an interpreted 33-`Contains` filter lambda per candidate block;
  * this runs the same compiled patterns and the same filter logic in plain
  * Scala (micro-benchmark: ~1 ms/doc vs ~100 ms/doc through interpreted
  * higher-order expressions). Semantics identical to
  * Extract.completeDerivations/workedSolutions/mathematicalProofs —
  * equality-tested in DeriveSpec.
  */
object BlockExtract {

  private val derivPs = Extract.CompleteDerivationPatterns.map(java.util.regex.Pattern.compile)
  private val solPs = Extract.WorkedSolutionPatterns.map(java.util.regex.Pattern.compile)
  private val proofPs = Extract.ProofPatterns.map(java.util.regex.Pattern.compile)

  /** Exact mirror of Extract.containsEnglishPhysicsTerms (substring, 0/1). */
  def containsEnglishPhysicsTerms(s: String): Boolean = {
    val lo = graft.extract.Clean.sparkLower(s)
    (termCountStr(lo, Extract.EnglishPhysicsTerms) >= 1 ||
      termCountStr(lo, Extract.VixraPhysicsTerms) >= 2) &&
      termCountStr(lo, Extract.CommonEnglish) >= 2
  }

  // necessary literals per pattern (round-6: the same AnchorGuard
  // discipline StepExtract/UgExample use — each (?si) pattern's prefix/
  // mid/suffix alternations are REQUIRED literal sets; if any group is
  // absent from the ascii-folded doc the whole-text dotall scan cannot
  // match and is skipped, output identical by construction). Groups
  // that can be empty-matched (\z, \n\n, punctuation) are NOT anchors.
  private[graft] val DerivAnchors: Array[Array[Array[String]]] = Array(
    Array(Array("to derive", "to show", "to prove", "we derive",
      "we show", "we calculate", "we find"),
      Array("therefore", "thus", "hence", "we obtain", "this gives",
        "q.e.d.")),
    Array(Array("starting with", "beginning with", "we start with",
      "from", "given"),
      Array("therefore", "thus", "hence", "we obtain", "this gives",
        "we get", "we find")),
    Array(Array("step", "first", "initially", "next", "then"),
      Array("finally", "in conclusion", "therefore", "we obtain",
        "we get")),
    Array(Array("let us", "consider", "suppose", "assume"),
      Array("differential", "equation", "formula", "energy", "force",
        "field"),
      Array("solution", "result", "answer", "we obtain", "we get")),
    Array(Array("using", "applying", "from", "by"),
      Array("equation", "formula", "law", "principle"),
      Array("we get", "we obtain", "we find", "this gives", "therefore")),
    Array(Array("substituting", "replacing", "setting", "with"),
      Array("=", "equals"),
      Array("we get", "we obtain", "we find", "this gives")))

  private[graft] val SolAnchors: Array[Array[Array[String]]] = Array(
    Array(Array("problem", "example", "exercise"),
      Array("solution", "answer")),
    Array(Array("given", "known"),
      Array("find", "calculate", "determine"),
      Array("solution", "answer")),
    Array(Array("let us solve", "to solve", "solving", "we solve"),
      Array("the result is", "we find", "the answer is", "we get",
        "we obtain")),
    Array(Array("calculate", "computing", "finding", "determining"),
      Array("=", "equals", "gives", "yields")),
    Array(Array("using", "with", "from"),
      Array("equation", "formula", "relation"),
      Array("we get", "we obtain", "we find", "this gives", "therefore")))

  private[graft] val ProofAnchors: Array[Array[Array[String]]] = Array(
    Array(Array("proof", "demonstration"),
      Array("q.e.d.", "this completes", "end of proof")),
    Array(Array("we prove", "to prove"),
      Array("therefore", "hence", "thus")),
    Array(Array("by", "using", "from"),
      Array("equation", "formula"),
      Array("we get", "we obtain", "it follows")))

  private def battery(text: String, fold: String,
                      ps: Seq[java.util.regex.Pattern],
                      anchors: Array[Array[Array[String]]],
                      minLen: Int, maxLen: Int, cap: Int): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pi = 0
    ps.foreach { p =>
      if (AnchorGuard.anchored(fold, anchors(pi))) {
        val m = p.matcher(text)
        while (m.find()) {
          val s = m.group(0)
          if (s.length > minLen && s.length < maxLen && containsEnglishPhysicsTerms(s))
            out += s
        }
      }
      pi += 1
    }
    out.take(cap).toArray
  }

  /** (derivations[:7], solutions[:7], proofs[:3]) in one call —
    * windows/caps per enhanced_paper_analyser.py:739-800.
    */
  def compute(text: String): (Array[String], Array[String], Array[String]) = {
    if (text == null || text.isEmpty)
      return (Array.empty, Array.empty, Array.empty)
    val fold = AnchorGuard.asciiLower(text)
    (battery(text, fold, derivPs, DerivAnchors, 100, 2500, 7),
      battery(text, fold, solPs, SolAnchors, 80, 1800, 7),
      battery(text, fold, proofPs, ProofAnchors, 100, 1200, 3))
  }

  def computeRow(u: UTF8String): InternalRow = {
    val (d, s, p) = compute(if (u == null) null else u.toString)
    new GenericInternalRow(Array[Any](arr(d), arr(s), arr(p)))
  }

  val OutSchema: StructType = StructType(Seq(
    StructField("derivations", ArrayType(StringType), nullable = false),
    StructField("solutions", ArrayType(StringType), nullable = false),
    StructField("proofs", ArrayType(StringType), nullable = false)))

  /** The (derivations, solutions, proofs) struct as a native call. */
  def blocksCol(text: Column): Column =
    graft.functions.Native(this, "computeRow", OutSchema, text)
}
