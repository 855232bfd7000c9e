package graft.derive

import DeriveHelpers._

import java.util.regex.Pattern

import graft.extract.Clean.sparkLower

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused v2/v3 concept extraction for the benchmark builders — the same
  * native-scan recipe as BlockExtract/StepExtract applied to the last
  * interpreted-HOF hot spot: the builders' per-row batteries ran ~20
  * `regexp_extract_all` materializations plus interpreted multi-`Contains`
  * filter lambdas per candidate. Each expression runs the identical
  * compiled patterns, Spark-`trim` (space-only) mirrors, charset-whitelist
  * cleans and term filters in one call; equality with the Column forms is
  * tested in BenchmarkBuildersSpec.
  */
object ConceptExtract {

  /** findAll with per-pattern necessary-literal guards (round-6: the
    * AnchorGuard discipline — a pattern whose required literal set is
    * absent from the ascii-folded text cannot match, so its whole-text
    * scan is skipped; output identical by construction).
    */
  private def findAllGuarded(ps: Seq[Pattern],
                             anchors: Array[Array[Array[String]]],
                             fold: String, text: String, group: Int = 1)
                            (keep: String => Option[String]): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pi = 0
    ps.foreach { p =>
      if (AnchorGuard.anchored(fold, anchors(pi))) {
        val m = p.matcher(text)
        while (m.find()) keep(m.group(group)).foreach(out += _)
      }
      pi += 1
    }
    out.toArray
  }

  private val Digits: Array[String] =
    Array("0", "1", "2", "3", "4", "5", "6", "7", "8", "9")

  // ------------------------------------------------------------------
  // Shared clean mirrors (same regexes as Clean.equationClean /
  // BenchmarkBuilders.equationCleanV3 — WsRun collapse then whitelist
  // strip leaves only ' ' whitespace, so Java trim == Spark trim here).
  // ------------------------------------------------------------------
  private val WsRunP = Pattern.compile("(?U)\\s+")
  private val WhitelistV2 =
    Pattern.compile("[^\\w\\s=+\\-*/(){}\\\\.,∇∂∫α-ωΑ-Ω]")
  private val WhitelistV3 =
    Pattern.compile("[^\\w\\s=+\\-*/(){}\\\\.,∇∂∫√α-ωΑ-Ω]")

  private def cleanEq(whitelist: Pattern, s: String): String =
    whitelist.matcher(WsRunP.matcher(s).replaceAll(" ")).replaceAll("").trim

  // ====================================================================
  // V2 mirrors (constants shared with BenchmarkBuilders)
  // ====================================================================
  import BenchmarkBuilders._

  private val v2EqPs = V2EqPatterns.map(Pattern.compile)
  private val v2DerivPs = V2DerivPatterns.map(Pattern.compile)
  private val v2ScenPs = V2ScenarioPatterns.map(Pattern.compile)
  private val v2NumPs = V2NumPatterns.map(Pattern.compile)
  private val v2PrinPs = V2PrinciplePatterns.map(Pattern.compile)
  private val digitP = Pattern.compile("\\d")

  // necessary literals per pattern, verified against the regex sources
  // in BenchmarkBuilders (ascii fold matches the patterns' bare `(?i)`;
  // ∇/∂/\frac{ pass through the fold unchanged)
  private[graft] val V2EqAnchors: Array[Array[Array[String]]] = Array(
    Array(Array("=")), Array(Array("\\frac{")), Array(Array("=")),
    Array(Array("∇")), Array(Array("∂")))
  private[graft] val V2DerivAnchors: Array[Array[Array[String]]] = Array(
    Array(Array("starting with", "beginning with", "from", "given"),
      Array("equation", "formula", "relation")),
    Array(Array("substituting", "using", "applying"),
      Array("=", "into", "yield")),
    Array(Array("therefore", "thus", "hence"), Array("=")))
  private[graft] val V2ScenAnchors: Array[Array[Array[String]]] = Array(
    Array(Array("consider", "suppose", "let", "assume"),
      Array("particle", "system", "field", "wave", "oscillator",
        "potential")),
    Array(Array("in this", "our", "the"),
      Array("experiment", "setup", "system", "model", "approach")),
    Array(Array("we study", "we consider", "we analyze")))
  private[graft] val V2NumAnchors: Array[Array[Array[String]]] = Array(
    Array(Array("="), Digits),
    Array(Array("wavelength", "frequency", "energy", "mass", "velocity",
      "temperature", "pressure"), Digits))
  private[graft] val V2PrinAnchors: Array[Array[Array[String]]] = Array(
    Array(Array("conservation of")),
    Array(Array("newton"), Array("law")),
    Array(Array("maxwell"), Array("equation")),
    Array(Array("dinger equation")),
    Array(Array("uncertainty principle")),
    Array(Array("thermodynamic"), Array("law")))

  private def physicsContentV2(s: String): Boolean =
    V2PhysicsTerms.exists(sparkLower(s).contains) ||
      V2MathChars.exists(s.contains)

  private def meaningfulEquation(eq: String): Boolean =
    eq.contains("=") && Gates.PhysicsVars.exists(eq.contains) &&
      Gates.MathOps.exists(eq.contains) && spaceTrim(eq).length > 8

  def computeV2(text: String): InternalRow = {
    if (text == null)
      return new GenericInternalRow(Array.fill[Any](5)(arr(Array.empty)))
    val fold = AnchorGuard.asciiLower(text)
    val eqs = findAllGuarded(v2EqPs, V2EqAnchors, fold, text) { m =>
      val c = cleanEq(WhitelistV2, m)
      if (c.nonEmpty && meaningfulEquation(c)) Some(c) else None
    }
    val derivs = findAllGuarded(v2DerivPs, V2DerivAnchors, fold, text) { m =>
      val t = spaceTrim(m)
      if (t.length > 20 && physicsContentV2(t)) Some(t) else None
    }
    val scens = findAllGuarded(v2ScenPs, V2ScenAnchors, fold, text) { m =>
      val t = spaceTrim(m)
      if (t.length > 30 && physicsContentV2(t)) Some(t) else None
    }
    val nums = findAllGuarded(v2NumPs, V2NumAnchors, fold, text) { m =>
      val t = spaceTrim(m)
      if (digitP.matcher(t).find() &&
        V2NumContexts.exists(sparkLower(t).contains) && t.length > 5)
        Some(t) else None
    }
    val prins = findAllGuarded(v2PrinPs, V2PrinAnchors, fold, text)(
      m => Some(spaceTrim(m)))
    new GenericInternalRow(Array[Any](
      arr(eqs), arr(derivs), arr(scens), arr(nums), arr(prins)))
  }

  val V2Schema: StructType = StructType(Seq(
    StructField("equations", ArrayType(StringType), nullable = false),
    StructField("derivations", ArrayType(StringType), nullable = false),
    StructField("scenarios", ArrayType(StringType), nullable = false),
    StructField("numericals", ArrayType(StringType), nullable = false),
    StructField("principles", ArrayType(StringType), nullable = false)))

  // ====================================================================
  // V3 mirrors
  // ====================================================================
  private val v3EqPs = V3EqPatterns.map(Pattern.compile)
  private val v3DerivPs = V3DerivPatterns.map(Pattern.compile)
  private val v3NumPs = V3NumPatterns.map(Pattern.compile)
  private val v3ScenPs = V3ScenarioPatterns.map(Pattern.compile)

  private[graft] val V3EqAnchors: Array[Array[Array[String]]] = Array(
    Array(Array("=")), Array(Array("=")), Array(Array("\\frac{")))
  private[graft] val V3DerivAnchors: Array[Array[Array[String]]] = Array(
    Array(Array("starting with", "from", "given"),
      Array("we get", "we obtain", "this gives")),
    Array(Array("using", "substituting"), Array("in")))
  private[graft] val V3NumAnchors: Array[Array[Array[String]]] = Array(
    Array(Array("="), Digits),
    Array(Array("wavelength", "frequency", "energy", "mass", "velocity",
      "temperature", "pressure"), Digits))
  private[graft] val V3ScenAnchors: Array[Array[Array[String]]] = Array(
    Array(Array("consider", "suppose", "let"),
      Array("particle", "system", "field", "wave", "oscillator")),
    Array(Array("we study", "we consider", "in this work")))

  private def physicsEquationV3(eq: String): Boolean =
    eq.contains("=") && spaceTrim(eq).length >= 5 &&
      V3PhysicsVars.exists(eq.contains) && V3MathOps.exists(eq.contains)

  def computeV3(text: String): InternalRow = {
    if (text == null)
      return new GenericInternalRow(Array[Any](
        arr(Array.empty), new GenericArrayData(Array.empty[Any]),
        arr(Array.empty), arr(Array.empty)))
    val fold = AnchorGuard.asciiLower(text)
    val eqs = findAllGuarded(v3EqPs, V3EqAnchors, fold, text) { m =>
      val c = cleanEq(WhitelistV3, m)
      if (c.nonEmpty && physicsEquationV3(c)) Some(c) else None
    }
    val pairs = scala.collection.mutable.ArrayBuffer.empty[Any]
    var dpi = 0
    v3DerivPs.foreach { p =>
      if (AnchorGuard.anchored(fold, V3DerivAnchors(dpi))) {
        val m = p.matcher(text)
        while (m.find()) {
          val a = spaceTrim(m.group(1))
          val b = spaceTrim(m.group(2))
          if (a.length > 15 && b.length > 10)
            pairs += new GenericInternalRow(Array[Any](
              UTF8String.fromString(a), UTF8String.fromString(b)))
        }
      }
      dpi += 1
    }
    val nums = findAllGuarded(v3NumPs, V3NumAnchors, fold, text) { m =>
      val t = spaceTrim(m)
      if (digitP.matcher(t).find() &&
        V3NumContexts.exists(sparkLower(t).contains) && t.length > 4)
        Some(t) else None
    }
    val scens = findAllGuarded(v3ScenPs, V3ScenAnchors, fold, text) { m =>
      val t = spaceTrim(m)
      if (t.length > 25 && V3PhysicsTerms.exists(sparkLower(t).contains))
        Some(t) else None
    }
    new GenericInternalRow(Array[Any](
      arr(eqs), new GenericArrayData(pairs.toArray), arr(nums), arr(scens)))
  }

  val V3PairSchema: StructType = StructType(Seq(
    StructField("starting_point", StringType, nullable = false),
    StructField("result", StringType, nullable = false)))

  val V3Schema: StructType = StructType(Seq(
    StructField("equations", ArrayType(StringType), nullable = false),
    StructField("derivations", ArrayType(V3PairSchema), nullable = false),
    StructField("numericals", ArrayType(StringType), nullable = false),
    StructField("scenarios", ArrayType(StringType), nullable = false)))

  def v2Row(u: UTF8String): InternalRow = computeV2(u.toString)
  def v3Row(u: UTF8String): InternalRow = computeV3(u.toString)

  /** The v2 / v3 concept structs as native calls. */
  def v2Col(text: Column): Column = graft.functions.Native(this, "v2Row", V2Schema, text)
  def v3Col(text: Column): Column = graft.functions.Native(this, "v3Row", V3Schema, text)
}
