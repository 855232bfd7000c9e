package graft

import java.util.Locale

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.CollationSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop}

import graft.derive.{BenchmarkBuilders, Derive, Extract, Gates, RlBuilder, UgBuilders}
import graft.functions.TermScanner
import graft.rules.Heuristics
import graft.rules.Heuristics.TermSample
import graft.score.Stages

/** The one-pass term-mask kernel against the form it replaces: every
  * production sample's `count(mask(text), list)` equals
  * `termCount(lowerPrefix(text, n), list)` (run as Spark's own
  * `lower`/`substring`/`contains`) and the plain-Scala `termCountStr`,
  * for each list a gate, classifier or anchor guard counts and for the
  * concatenations the gates sum; whole-text samples (`n = Int.MaxValue`)
  * included.
  * Below that, the scanner is held to the exact form on bytes a String
  * cannot carry (malformed UTF-8), on the code points whose lowercase
  * holds ASCII, and under a default locale with tailored case rules.
  */
class TermMaskSpec extends SparkTestBase {

  /** Every production sample with the lists (or sums of lists) it counts. */
  private val Samples: Seq[(String, TermSample, Seq[Seq[String]])] = Seq(
    ("Heuristics.EligibilitySample", Heuristics.EligibilitySample,
      Seq(graft.lang.LangId.EnglishStopwords10,
        Heuristics.PhysicsIndicators ++ Heuristics.VixraIndicators)),
    ("Stages.AssumptionSample", Stages.AssumptionSample, Seq(Stages.AssumptionTerms)),
    ("Derive.TrainingSample", Derive.TrainingSample,
      Seq(graft.lang.LangId.EnglishStopwords14,
        Derive.TrainingStepIndicators ++ Derive.TrainingPhysIndicators)),
    ("BenchmarkBuilders.V2SuitSample", BenchmarkBuilders.V2SuitSample,
      Seq(BenchmarkBuilders.V2SuitIndicators)),
    ("BenchmarkBuilders.V3SuitSample", BenchmarkBuilders.V3SuitSample,
      Seq(BenchmarkBuilders.V3SuitTerms)),
    ("RlBuilder.RlSample", RlBuilder.RlSample, RlBuilder.RlSample.lists),
    ("RlBuilder.V3GateSample", RlBuilder.V3GateSample, RlBuilder.V3GateSample.lists),
    ("UgBuilders.UgSample", UgBuilders.UgSample,
      Seq(UgBuilders.UgPhysicsIndicators ++ UgBuilders.UgMathIndicators)),
    ("Extract.EnglishPhysicsSample", Extract.EnglishPhysicsSample,
      Extract.EnglishPhysicsSample.lists),
    ("Extract.ClassifierSample", Extract.ClassifierSample, Extract.ClassifierSample.lists),
    ("Gates.C9Sample", Gates.C9Sample, Gates.C9Sample.lists),
    ("UgBuilders.UgDifficultySample", UgBuilders.UgDifficultySample,
      UgBuilders.UgDifficultySample.lists),
    ("RlBuilder.RlDifficultySample", RlBuilder.RlDifficultySample,
      RlBuilder.RlDifficultySample.lists),
    ("RlBuilder.V3QualitySample", RlBuilder.V3QualitySample, RlBuilder.V3QualitySample.lists),
    ("RlBuilder.V3DifficultySample", RlBuilder.V3DifficultySample,
      RlBuilder.V3DifficultySample.lists),
    // the anchor guards count each group (any-of: count > 0)
    ("RlBuilder.V2AnchorSample", RlBuilder.V2AnchorSample,
      (RlBuilder.ExplicitAnchors ++ RlBuilder.DerivationSeqAnchors ++
        RlBuilder.CalculationAnchors).flatten.distinct),
    ("RlBuilder.V3AnchorSample", RlBuilder.V3AnchorSample,
      (RlBuilder.V3ExplicitAnchors.flatten ++ RlBuilder.V3DerivationAnchors).distinct),
    ("UgBuilders.UgWordAnchorSample", UgBuilders.UgWordAnchorSample,
      (UgBuilders.UgDerivAnchors ++ UgBuilders.UgProblemAnchors ++
        UgBuilders.UgDerivationAnchors).flatten.distinct))

  private val Astral = "😀"
  private val Filler = IndexedSeq("0", " ", "α", "中", Astral, "-", "\n",
    "é", "ж", "—")

  /** `len` code points of non-Latin filler ending in a surrogate pair. */
  private def filler(len: Int, offset: Int): String =
    (0 until len - 1).map(i => Filler((i + offset) % Filler.size)).mkString +
      (if (len > 0) Astral else "")

  private val allTerms = Samples.flatMap(_._3.flatten).distinct

  /** A gate term in mixed case, its 'i' sometimes U+0130 and 'k' U+212A. */
  private val term: Gen[String] = for {
    t <- Gen.oneOf(allTerms)
    up <- Gen.listOfN(t.length, Gen.frequency(4 -> 0, 2 -> 1, 1 -> 2))
  } yield t.zip(up).map {
    case (c, 1) => c.toUpper.toString
    case ('i', 2) => "İ"
    case ('k', 2) => "K"
    case (c, _) => c.toString
  }.mkString

  private val prose: Gen[String] = Gen.listOf(Gen.frequency(
    5 -> term,
    2 -> Gen.alphaStr.map(_.take(8)),
    2 -> Gen.zip(Gen.choose(1, 12), Gen.choose(0, 9)).map { case (k, o) => filler(k, o) }))
    .map(_.mkString(" "))

  /** A term whose first `j` code points fall inside an `n`-point sample
    * (finite `n` only: a whole-text sample has no cut).
    */
  private val straddle: Gen[String] = for {
    n <- Gen.oneOf(Samples.map(_._2.n).filter(_ != Int.MaxValue).distinct)
    t <- term
    j <- Gen.choose(0, t.length + 1)
    o <- Gen.choose(0, 9)
    tail <- prose
  } yield filler(n - j, o) + t + " " + tail

  private val text: Gen[String] = Gen.frequency(
    1 -> Gen.const(null: String), 1 -> Gen.const(""), 5 -> prose, 5 -> straddle)

  test("every gate sample's counts equal termCount(lowerPrefix) and termCountStr (seeded property)") {
    val schema = StructType(Seq(StructField("t", StringType)))
    val cases = for ((name, s, lists) <- Samples; list <- lists) yield (name, s, list)
    val cols = cases.flatMap { case (_, s, list) =>
      Seq(s.count(s.mask(col("t")), list),
        TermCount.termCount(TermCount.lowerPrefix(col("t"), s.n), list))
    }
    val hits = Array.fill(cases.length)(0)
    var bad = Seq.empty[String]
    PropertySpec.check(Prop.forAllNoShrink(Gen.listOfN(200, text)) { batch =>
      val rows = spark.createDataFrame(spark.sparkContext.parallelize(batch.map(Row(_)), 2), schema)
        .select(col("t") +: cols: _*).collect()
      rows.length == batch.length && rows.forall { r =>
        val t = r.getString(0)
        cases.indices.forall { i =>
          val (name, s, list) = cases(i)
          val want = Heuristics.termCountStr(Heuristics.lowerPrefixStr(t, s.n), list)
          if (want > 0) hits(i) += 1
          val ok = r.getInt(1 + 2 * i) == want && r.getInt(2 + 2 * i) == want
          if (!ok) bad :+= s"$name: kernel ${r.get(1 + 2 * i)} column ${r.get(2 + 2 * i)} " +
            s"mirror $want on ${Option(t).map(_.take(60)).orNull}"
          ok
        }
      }
    }, 6)
    assert(bad.isEmpty, bad.take(3).mkString("\n"))
    cases.indices.foreach(i => assert(hits(i) >= 50, s"${cases(i)._1} hit only ${hits(i)} times"))
  }

  test("a term listed twice counts twice; null text counts 0") {
    val s = new TermSample(20, Seq("ab", "cd", "ab"), Seq("cd"))
    val rows = Seq(null, "", "AB", "xx cd ab", "cKd", "CD", "ab" + " " * 30 + "cd")
    val got = spark.createDataFrame(spark.sparkContext.parallelize(rows.map(Row(_)), 2),
      StructType(Seq(StructField("t", StringType))))
      .select(s.count(s.mask(col("t")), Seq("ab", "cd", "ab")), s.count(s.mask(col("t")), Seq("cd")))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    val want = rows.map { t =>
      val lp = Heuristics.lowerPrefixStr(t, 20)
      (Heuristics.termCountStr(lp, Seq("ab", "cd", "ab")), Heuristics.termCountStr(lp, Seq("cd")))
    }
    assert(got == want)
    assert(want == Seq((0, 0), (0, 0), (2, 0), (3, 1), (0, 0), (1, 1), (2, 0)))
  }

  /** The Column form over raw bytes: ICU `lower` of `substring(s, 1, n)`. */
  private def exact(s: UTF8String, n: Int, terms: Seq[String]): Long = {
    val lowered = CollationSupport.Lower.execBinaryICU(s.substringSQL(1, n))
    terms.zipWithIndex.map { case (t, i) =>
      if (lowered.contains(UTF8String.fromString(t))) 1L << i else 0L
    }.sum
  }

  test("LowersToAscii is every code point whose ICU lowercase holds ASCII") {
    val found = (0x80 until 0x110000)
      .filterNot(cp => cp >= 0xd800 && cp <= 0xdfff)
      .filter(cp => UCharacter.toLowerCase(Locale.ROOT, new String(Character.toChars(cp)))
        .exists(_ < 0x80))
    assert(found == TermScanner.LowersToAscii)
  }

  test("the fast scan stops at the cut, skips safe non-ASCII, and falls back where it must") {
    val terms = Seq("the", "kin", "step")
    val sc = TermScanner(terms)
    def bytes(s: String) = s.getBytes("UTF-8")
    def check(b: Array[Byte], n: Int, fast: Boolean): Unit = {
      val s = UTF8String.fromBytes(b)
      val f = sc.fastMask(s, n)
      assert((f >= 0) == fast, s"fast path ${if (fast) "bailed" else "fired"} on ${s.toString.take(40)}")
      assert(sc.mask(s, n) == exact(s, n, terms), s"parity on ${s.toString.take(40)}")
    }
    // safe non-ASCII, astral code points and a term cut by the sample end
    check(bytes("é中" + Astral + " THE st" + "ep"), 8, fast = true)
    check(bytes("é中" + Astral + " THE st" + "ep"), 10, fast = true)
    // malformed bytes after the cut are never read
    check(bytes("the ") ++ Array(0x80.toByte, 0xff.toByte) ++ bytes("step"), 4, fast = true)
    // ...but inside the sample they force the exact form
    check(bytes("the ") ++ Array(0x80.toByte) ++ bytes("step"), 20, fast = false)
    check(bytes("st") ++ Array(0xc3.toByte) ++ bytes("ep the"), 20, fast = false)
    check(Array(0xed.toByte, 0xa0.toByte, 0x80.toByte) ++ bytes("step"), 20, fast = false)
    // U+212A lowers to 'k', U+0130 to "i̇": both take the exact form
    check(bytes("Kin the"), 20, fast = false)
    check(bytes("KİN the"), 20, fast = false)
    // a term bisected by a non-ASCII code point does not match
    check(bytes("thée st中ep"), 20, fast = true)
  }

  test("a default locale with tailored case rules takes the exact form") {
    val sc = TermScanner(Seq("title"))
    val mixed = UTF8String.fromString("TITLE ü")
    val ascii = UTF8String.fromString("TITLE")
    assert(sc.fastMask(mixed, 100) == 1L)
    val orig = Locale.getDefault
    try {
      Locale.setDefault(Locale.forLanguageTag("tr-TR"))
      // ICU lowers 'I' to dotless 'ı' in non-ASCII text under tr; Spark
      // folds a fully ASCII string byte-wise in any locale
      assert(sc.fastMask(mixed, 100) == -1L)
      assert(sc.mask(mixed, 100) == 0L && exact(mixed, 100, Seq("title")) == 0L)
      assert(sc.mask(ascii, 100) == 1L && exact(ascii, 100, Seq("title")) == 1L)
    } finally Locale.setDefault(orig)
    assert(sc.fastMask(mixed, 100) == 1L)
  }
}
