package graft.derive

import DeriveHelpers._

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused E15 reasoning-step extraction (the analyser variant,
  * enhanced_paper_analyser.py:918-949) — the remaining interpreted-HOF
  * hot spot on the training-derivation path after BlockExtract: the
  * Catalyst form ran 7 `regexp_extract_all` materializations plus an
  * interpreted 35-`Contains` meaningfulness lambda per candidate, twice
  * (pattern steps + sentence fallback). Identical semantics — same
  * compiled Java patterns, Spark-`trim` (space-only) mirror, same length
  * windows, same append-fallback-when-<2 rule, cap 10. Equality vs the
  * Column form is tested in DeriveSpec.
  */
object StepExtract {

  private val stepPs =
    Extract.AnalyserStepPatterns.map(java.util.regex.Pattern.compile)
  private val sentSplit = java.util.regex.Pattern.compile("[.!?]+")


  /** _is_meaningful_step mirror (enhanced_paper_analyser.py:951-966). */
  def isMeaningfulStep(s: String): Boolean = {
    val lo = graft.extract.Clean.sparkLower(s)
    ((Extract.AnalyserMeaningful.exists(lo.contains) ||
      Extract.AnalyserVixra.exists(lo.contains)) &&
      !Extract.AnalyserAvoid.exists(lo.contains) &&
      Extract.AnalyserCommon.exists(lo.contains))
  }

  // necessary literals per AnalyserStepPatterns prefix alternation —
  // AnchorGuard (ASCII fold, matching the patterns' bare `(?i)`)
  private[graft] val StepAnchors: Array[Array[Array[String]]] = Array(
    Array(Array("step", "first", "second", "third", "next", "then",
      "finally", "therefore", "hence", "thus")),
    Array(Array("we have", "we get", "we obtain", "we find",
      "we calculate", "we derive")),
    Array(Array("using", "applying", "from", "by"),
      Array("equation", "formula", "law", "principle")),
    Array(Array("substituting", "replacing", "setting"), Array("=")),
    Array(Array("given", "assume", "consider", "let")),
    Array(Array("this gives", "this yields", "we see that",
      "it follows that")),
    Array(Array("since", "because", "as"),
      Array("we have", "we get", "we obtain")))

  def compute(text: String): Array[String] = {
    if (text == null) return Array.empty
    val fold = AnchorGuard.asciiLower(text)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pi = 0
    stepPs.foreach { p =>
      if (AnchorGuard.anchored(fold, StepAnchors(pi))) {
        val m = p.matcher(text)
        while (m.find()) {
          val s = spaceTrim(m.group(0))
          if (s.length > 8 && s.length < 250 && isMeaningfulStep(s)) out += s
        }
      }
      pi += 1
    }
    if (out.size < 2) {
      sentSplit.split(text, -1).foreach { raw =>
        val s = spaceTrim(raw)
        if (s.length > 15 && s.length < 180 && isMeaningfulStep(s)) out += s
      }
    }
    out.take(10).toArray
  }

  def computeArray(u: UTF8String): GenericArrayData = {
    val a = compute(if (u == null) null else u.toString)
    new GenericArrayData(a.map(x => UTF8String.fromString(x).asInstanceOf[Any]))
  }

  /** The steps array as a native call. */
  def stepsCol(text: Column): Column =
    graft.functions.Native(this, "computeArray",
      ArrayType(StringType, containsNull = false), text)
}
