package graft

import org.apache.spark.unsafe.types.UTF8String
import graft.derive.{AnchorGuard, RlBuilder, RlExample, UgBuilders, UgExample}
import graft.functions.TermScanner

/** Non-ASCII anchor/mask re-profile (round-5 verdict watch item 5,
  * carried since round 4): the anchor guards and the one-pass
  * whole-text term mask were profiled on the ASCII-heavy fixture corpus
  * only — correctness is machine-checked (AnchorNecessitySpec,
  * MultiContainsSpec), but the WIN SIZE on non-ASCII corpora was
  * unknown. This probe measures, per script class of the deterministic
  * `SynthCorpus.mixedScriptBody` mix (ASCII-English / Cyrillic / CJK /
  * Latin-1-accented):
  *
  *   - anchor-presence rate (fraction of docs where the guard does NOT
  *     skip — i.e. the regex battery still runs), per anchor set;
  *   - µs/doc of the one-pass whole-text mask scan (`TermScanner`);
  *   - µs/block of the guarded fused batteries (UgExample.metaRow,
  *     solutionSteps; RlExample.reasoningSteps).
  *
  * Numbers land in NOTES.md (round-6 section). Tagged `graft.Probe` —
  * excluded from the default suite.
  */
class NonAsciiProfileProbe extends SparkTestBase {

  private val ClassNames = Array("ascii-en", "cyrillic", "cjk", "latin1")

  private def minOf(reps: Int)(body: => Unit): Double =
    (1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }.min

  test("non-ASCII mix: anchor presence rates + mask/battery timings", ProbeTag) {
    val docs = (0L until 4000L).map(graft.fixtures.SynthCorpus.mixedScriptBody)
    val byClass = docs.groupBy(_._1).view.mapValues(_.map(_._2).toArray).toMap
    assert(byClass.size == 4 && byClass.values.forall(_.length > 500),
      s"mix degenerate: ${byClass.view.mapValues(_.length).toMap}")

    // ---- anchor presence: does the guard let the battery run? ----
    // production anchor arrays, not copies — the rates must describe
    // the SHIPPED guards even after the anchor sets are edited
    val anchorSets: Seq[(String, Array[Array[String]])] = Seq(
      "rl.v2 explicit[0]" ->
        RlBuilder.ExplicitAnchors.head.map(_.toArray).toArray,
      "rl.v3 explicit[0]" ->
        RlBuilder.V3ExplicitAnchors.head.map(_.toArray).toArray,
      "ug StepAnchors[1]" -> UgExample.StepAnchors(1),
      "ug StmtAnchors[0]" -> UgExample.StmtAnchors(0))
    for ((name, groups) <- anchorSets) {
      val rates = (0 to 3).map { c =>
        val ds = byClass(c)
        val hit = ds.count(d => AnchorGuard.anchored(
          AnchorGuard.asciiLower(d), groups))
        f"${ClassNames(c)} ${hit * 100.0 / ds.length}%5.1f%%"
      }
      info(f"presence $name%-22s ${rates.mkString("  ")}")
    }

    // ---- one-pass mask scan µs/doc per class ----
    for ((termsName, terms) <- Seq("V2AnchorTerms" -> RlBuilder.V2AnchorTerms,
      "UgWordAnchorTerms" -> UgBuilders.UgWordAnchorTerms)) {
      val sc = TermScanner(terms)
      val perClass = (0 to 3).map { c =>
        val us = byClass(c).map(UTF8String.fromString)
        us.foreach { d => assert(sc.fastMask(d, Int.MaxValue) >= 0, "fast path bailed") }
        val s = minOf(5)(us.foreach(sc.fastMask(_, Int.MaxValue)))
        val bytes = us.map(_.numBytes().toLong).sum / us.length
        f"${ClassNames(c)} ${s * 1e6 / us.length}%6.1f us/doc (${bytes}B)"
      }
      info(f"mask $termsName%-18s ${perClass.mkString("  ")}")
    }

    // ---- guarded fused batteries µs/block per class ----
    def battery(name: String)(body: String => Any): Unit = {
      byClass(0).foreach(body) // warm JIT on the richest class
      val perClass = (0 to 3).map { c =>
        val ds = byClass(c)
        val s = minOf(5)(ds.foreach(body))
        f"${ClassNames(c)} ${s * 1e6 / ds.length}%6.1f"
      }
      info(f"$name%-26s ${perClass.mkString("  ")} us/block")
    }
    battery("UgExample.metaRow")(UgExample.metaRow(_, "Physics"))
    battery("UgExample.solutionSteps")(UgExample.solutionSteps)
    battery("RlExample.reasoningSteps")(RlExample.reasoningSteps)
    battery("BlockExtract.compute")(graft.derive.BlockExtract.compute)
    battery("ConceptExtract.computeV2")(graft.derive.ConceptExtract.computeV2)
    battery("ConceptExtract.computeV3")(graft.derive.ConceptExtract.computeV3)
    battery("StepExtract.compute")(graft.derive.StepExtract.compute)
  }
}
