package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop}

import graft.derive.{BenchmarkBuilders, Derive, Extract, Gates, RlBuilder, UgBuilders}
import graft.extract.Clean
import graft.lang.LangId
import graft.rules.Heuristics
import graft.score.Stages

/** The Column form of the term-presence count as Spark's own `lower`,
  * `substring` and `contains`. The library counts through the one-pass
  * `Heuristics.TermSample` mask instead; these are the reference the
  * specs hold that mask and the plain-Scala mirrors to.
  */
object TermCount {

  /** `lower(text[:n])`, n counted in code points (Spark `substring`). */
  def lowerPrefix(text: Column, n: Int): Column = lower(substring(text, 1, n))

  /** How many of `terms` occur in `c`, each counted 0/1 (int; 0 on null). */
  def termCount(c: Column, terms: Seq[String]): Column =
    terms.map(t => when(c.contains(t), 1).otherwise(0)).reduce(_ + _)
}

/** The term-presence Column form against its mirror:
  * `termCount(lowerPrefix(text, n), terms)` (or `termCount(lower(text),
  * terms)` where a gate reads the whole text) equals `termCountStr` over
  * `lowerPrefixStr` / `Clean.sparkLower`, for every term list a gate
  * counts, each at the sample length that gate uses.
  *
  * The generator puts terms across the 1,000 / 1,500 / 2,000 / 5,000
  * code-point cuts behind filler whose last code point before the cut is
  * a surrogate pair (a UTF-16 cut would land elsewhere), and mixes in the
  * dangerous-lowercase code points U+0130 (lowers to two chars) and
  * U+212A (lowers to ASCII 'k'), also inside terms. The Column side runs
  * codegen over an RDD-backed frame. A floor on how often each list is
  * seen with count 0 and with count >= 1 keeps the property from passing
  * vacuously.
  */
class TermCountSpec extends SparkTestBase {

  private val Batches = 8
  private val BatchSize = 250
  private val Floor = 50

  /** (name, terms, sample length; 0 = the whole lowered text). */
  private val Lists: Seq[(String, Seq[String], Int)] = Seq(
    ("LangId.EnglishStopwords10", LangId.EnglishStopwords10, 1000),
    ("Heuristics.PhysicsIndicators", Heuristics.PhysicsIndicators, 1000),
    ("Heuristics.VixraIndicators", Heuristics.VixraIndicators, 1000),
    ("Stages.AssumptionTerms", Stages.AssumptionTerms, 5000),
    ("LangId.EnglishStopwords14", LangId.EnglishStopwords14, 2000),
    ("Derive.TrainingStepIndicators", Derive.TrainingStepIndicators, 2000),
    ("Derive.TrainingPhysIndicators", Derive.TrainingPhysIndicators, 2000),
    ("BenchmarkBuilders.V2SuitIndicators", BenchmarkBuilders.V2SuitIndicators, 2000),
    ("BenchmarkBuilders.V3SuitTerms", BenchmarkBuilders.V3SuitTerms, 1500),
    ("RlBuilder.RlProblemIndicators", RlBuilder.RlProblemIndicators, 2000),
    ("RlBuilder.RlReasoningIndicators", RlBuilder.RlReasoningIndicators, 2000),
    ("RlBuilder.RlPhysicsTerms", RlBuilder.RlPhysicsTerms, 2000),
    ("RlBuilder.V3GateIndicators", RlBuilder.V3GateIndicators, 1500),
    ("UgBuilders.UgPhysicsIndicators", UgBuilders.UgPhysicsIndicators, 2000),
    ("UgBuilders.UgMathIndicators", UgBuilders.UgMathIndicators, 2000),
    ("Extract.EnglishPhysicsTerms", Extract.EnglishPhysicsTerms, 0),
    ("Extract.VixraPhysicsTerms", Extract.VixraPhysicsTerms, 0),
    ("Extract.CommonEnglish", Extract.CommonEnglish, 0),
    ("Extract.AdvancedIndicators", Extract.AdvancedIndicators, 0),
    ("Extract.IntermediateIndicators", Extract.IntermediateIndicators, 0),
    ("Gates.C9English", Gates.C9English, 0),
    ("RlBuilder.RlAdvancedTerms", RlBuilder.RlAdvancedTerms, 0),
    ("RlBuilder.RlIntermediateTerms", RlBuilder.RlIntermediateTerms, 0),
    ("RlBuilder.V3QualityPhysicsTerms", RlBuilder.V3QualityPhysicsTerms, 0),
    ("UgBuilders.UgAdvanced", UgBuilders.UgAdvanced, 0),
    ("UgBuilders.UgIntermediate", UgBuilders.UgIntermediate, 0)
  ) ++ Extract.TopicKeywords.map { case (t, kws) => (s"Extract.TopicKeywords.$t", kws, 0) }

  private val Cuts = Lists.map(_._3).filter(_ > 0).distinct

  private def columnForm(n: Int, terms: Seq[String]) = {
    val sample = if (n > 0) TermCount.lowerPrefix(col("t"), n) else lower(col("t"))
    TermCount.termCount(sample, terms)
  }

  private def mirror(t: String, n: Int, terms: Seq[String]): Int = {
    val sample =
      if (n > 0) Heuristics.lowerPrefixStr(t, n) else if (t == null) null else Clean.sparkLower(t)
    Heuristics.termCountStr(sample, terms)
  }

  private val Astral = "\uD83D\uDE00" // U+1F600, one code point, two UTF-16 units
  private val FillerCps = IndexedSeq("0", " ", ".", "\u03B1", "\u4E2D", Astral, "\u0130",
    "-", "\u212A", "\n", "\uD835\uDF13", "\u0436")

  /** `len` code points of non-Latin filler; the last is a surrogate pair. */
  private def filler(len: Int, offset: Int): String = {
    val sb = new StringBuilder
    for (i <- 0 until len - 1) sb ++= FillerCps((i + offset) % FillerCps.size)
    if (len > 0) sb ++= Astral
    sb.toString
  }

  /** A term of a uniformly chosen list, in mixed case, sometimes with an
    * 'i' written U+0130 or a 'k' written U+212A.
    */
  private val termGen: Gen[String] = for {
    list <- Gen.oneOf(Lists.map(_._2))
    term <- Gen.oneOf(list)
    up <- Gen.listOfN(term.length, Gen.frequency(3 -> 0, 1 -> 1, 1 -> 2))
  } yield term.zip(up).map {
    case (c, 1) => c.toUpper.toString
    case ('i', 2) => "\u0130"
    case ('k', 2) => "\u212A"
    case (c, _) => c.toString
  }.mkString

  private val fragment: Gen[String] = Gen.frequency(
    4 -> termGen,
    2 -> Gen.asciiPrintableStr.map(_.take(12)),
    2 -> Gen.zip(Gen.choose(1, 40), Gen.choose(0, FillerCps.size - 1))
      .map { case (k, o) => filler(k, o) },
    1 -> Gen.oneOf("\u0130", "\u212A", "\u0130N", "TH\u0130S", "\u212Aev"))

  private val shortText: Gen[String] =
    Gen.listOf(Gen.zip(fragment, Gen.oneOf("", " ", "\n", ".")))
      .map(_.map { case (f, sep) => f + sep }.mkString)

  /** A term whose first `j` code points fall inside the `n`-code-point
    * sample (j = 0: all outside; j > term length: inside with room).
    */
  private val straddle: Gen[String] = for {
    n <- Gen.oneOf(Cuts)
    term <- termGen
    j <- Gen.choose(0, term.length + 1)
    off <- Gen.choose(0, FillerCps.size - 1)
    tail <- shortText
  } yield filler(n - j, off) + term + tail

  private val textGen: Gen[String] = Gen.frequency(
    1 -> Gen.const(null: String),
    1 -> Gen.const(""),
    2 -> Gen.zip(Gen.choose(1, 60), Gen.choose(0, FillerCps.size - 1))
      .map { case (k, o) => filler(k, o) },
    4 -> shortText,
    4 -> straddle)

  test("termCount(lowerPrefix) equals its mirror on every routed term list (seeded property)") {
    val schema = StructType(Seq(StructField("t", StringType)))
    val counts = Lists.map { case (_, terms, n) => columnForm(n, terms) }
    val seen = Array.fill(Lists.length, 2)(0)
    var bad = Seq.empty[String]
    PropertySpec.check(Prop.forAllNoShrink(Gen.listOfN(BatchSize, textGen)) { batch =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(batch.map(Row(_)), 2), schema)
      val rows = df.select(col("t") +: counts: _*).collect()
      rows.length == batch.length && rows.forall { r =>
        val t = r.getString(0)
        Lists.indices.forall { i =>
          val (name, terms, n) = Lists(i)
          val want = mirror(t, n, terms)
          seen(i)(if (want > 0) 1 else 0) += 1
          val ok = !r.isNullAt(i + 1) && r.getInt(i + 1) == want
          if (!ok) bad :+= s"$name n=$n: column ${r.get(i + 1)} mirror $want on " +
            Option(t).map(_.take(80)).orNull
          ok
        }
      }
    }, Batches)
    assert(bad.isEmpty, bad.take(3).mkString("\n"))
    for (i <- Lists.indices; b <- 0 to 1)
      assert(seen(i)(b) >= Floor,
        s"${Lists(i)._1} seen with count ${if (b == 1) ">= 1" else "0"} only ${seen(i)(b)} times")
  }

  test("null and empty text count 0; a surrogate pair before the cut counts as one code point") {
    val terms = Seq("the")
    val rows = Seq(null, "", filler(997, 0) + "the", filler(998, 0) + "the",
      filler(996, 3) + "THE", filler(10, 6) + "\u0130the")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row(_)), 2),
      StructType(Seq(StructField("t", StringType))))
    val got = df.select(TermCount.termCount(TermCount.lowerPrefix(col("t"), 1000), terms))
      .collect().map(_.getInt(0)).toSeq
    val want = rows.map(mirror(_, 1000, terms))
    assert(got == want)
    // 997 filler code points (astral ones included) + "the" end at the
    // cut; 998 push its 'e' past it
    assert(want == Seq(0, 0, 1, 0, 1, 1))
  }
}
