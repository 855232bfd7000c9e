package graft

import java.util.regex.Pattern

import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.SynthCorpus
import graft.rules.{Heuristics, PatternCounts}
import graft.scrub.PiiScrub

/** The literal-guarded regex kernels against their plain references:
  * `PiiScrub.scrubKernel` against the unguarded chain `PiiScrub.scrubStr`,
  * and `PatternCounts.compute` against the `Heuristics.*Str` mirrors.
  *
  * The generator is built to sit on both sides of every guard: several
  * '@' (at the ends, doubled, an email glued to the previous domain),
  * digits next to '.' and '-', digit runs of 12, 13, 19 and 20, phone-class
  * runs of 7 and 8, toxic terms in mixed ASCII case and next to U+212A /
  * U+0130, and the pattern-count literals. Each guard is also recomputed
  * here from a regex, checked against the kernel's guard scan, and shown
  * necessary: where it is false, its pass finds no match; no scrub pass
  * turns a guard on for a later pass. A floor on how
  * often each guard is seen true and false keeps the property from
  * passing vacuously.
  */
class RegexKernelSpec extends AnyFunSuite {

  private val Cases = 3000
  private val Floor = 100

  private def digits(n: Int): Gen[String] = Gen.listOfN(n, Gen.numChar).map(_.mkString)

  private def mixedCase(w: String): Gen[String] =
    Gen.listOfN(w.length, Gen.oneOf(true, false)).map { up =>
      w.zip(up).map { case (c, u) => if (u) c.toUpper else c }.mkString
    }

  private val emailGen: Gen[String] = for {
    local <- Gen.nonEmptyListOf(Gen.oneOf('a', 'Z', '7', '.', '_', '%', '+', '-')).map(_.mkString)
    host <- Gen.nonEmptyListOf(Gen.oneOf('b', 'Q', '3', '.', '-')).map(_.mkString)
    tld <- Gen.oneOf("c", "com", "org", "io", "c0m", "")
  } yield s"$local@$host.$tld"

  private val fragment: Gen[String] = Gen.frequency(
    3 -> Gen.asciiPrintableStr,
    3 -> emailGen,
    2 -> Gen.oneOf("@", "@@", "a@", "@b.cc", "a@b.com1x@c.org", "x@@y.com",
      "a@b.co@c.de", "me@192.168.1.1"),
    2 -> Gen.oneOf(1, 2, 3, 4, 7, 8, 12, 13, 19, 20).flatMap(digits),
    2 -> Gen.oneOf("1.2.3.4", "10.0.255.7", "123-45-6789", "3.14", "1-", "9.",
      "+1 (555) 123-4567", "555-867-5309"),
    2 -> Gen.oneOf(7, 8).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('0', '5', ' ', '\t', '\n', '(', ')', '.', '-')).map(_.mkString)),
    2 -> Gen.oneOf(PiiScrub.ToxicTerms).flatMap(mixedCase),
    1 -> Gen.oneOf("\u212Aill yourself", "k\u0130ll yourself", "\u0130diot", "stup\u0130d",
      "idiot\u212A", "\u0130hate", "stupid\u0130", "dumbass\u212A", "\u212A", "\u0130"),
    2 -> Gen.oneOf("$", "$$", "$x$", "$$E=mc^2$$", "\\frac{a}{b}", "\\frac{",
      "\\int f dx", "\\int", "\\sum_i", "\\sum", "\\alpha", "=", "x = 1234",
      "[", "[12]", "(", "(2020)", "]", ")", "{", "}", "dx"),
    1 -> Gen.listOf(Gen.choose(0x20.toChar, 0x2FF.toChar)).map(_.mkString))

  private val textGen: Gen[String] =
    Gen.listOf(Gen.zip(fragment, Gen.oneOf("", "", " ", "\n", ".", "-", "@", "1")))
      .map(_.map { case (f, sep) => f + sep }.mkString)

  // Scrub guards recomputed from regexes, in pass order.
  private val scrubGuardRefs: Seq[String => Boolean] = {
    val finds = Seq("[0-9]\\.", "[0-9]-", "[0-9]{13}", "[0-9 \\t\\n\\x0B\\f\\r().-]{8}")
      .map(Pattern.compile)
      .map(p => (s: String) => p.matcher(s).find())
    val toxic = (s: String) => {
      val folded = s.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
      PiiScrub.ToxicTerms.exists(folded.contains(_))
    }
    ((s: String) => s.indexOf('@') >= 0) +: finds :+ toxic
  }

  private val scrubPasses: Seq[(Pattern, String)] =
    (PiiScrub.Battery :+ (PiiScrub.ToxicPattern, "<TOXIC>"))
      .map { case (p, r) => (Pattern.compile(p), r) }

  test("scrub kernel equals the plain chain; every guard is necessary (seeded property)") {
    val seen = Array.fill(PiiScrub.PassCount, 2)(0)
    PropertySpec.check(Prop.forAll(textGen) { t =>
      // walk the reference chain, checking each pass's guard on the string
      // that pass sees, and that no pass turns a guard on (the kernel reads
      // the guards once, on the input)
      var s = t
      val guardsOk = scrubPasses.indices.forall { i =>
        val (p, r) = scrubPasses(i)
        val g = scrubGuardRefs(i)(s)
        seen(i)(if (g) 1 else 0) += 1
        val before = PiiScrub.guards(s)
        val ok = g == ((before & (1 << i)) != 0) && (g || !p.matcher(s).find())
        s = p.matcher(s).replaceAll(java.util.regex.Matcher.quoteReplacement(r))
        ok && (PiiScrub.guards(s) & ~before) == 0
      }
      guardsOk && s == PiiScrub.scrubStr(t) && PiiScrub.scrubKernel(t) == s
    }, Cases)
    for (i <- 0 until PiiScrub.PassCount; b <- 0 to 1)
      assert(seen(i)(b) >= Floor,
        s"pass $i guard seen ${if (b == 1) "true" else "false"} only ${seen(i)(b)} times")
  }

  // Pattern-count literals: (name, the literal test, patterns that need it).
  private val countGuards: Seq[(String, String => Boolean, Seq[String])] = {
    val decimal = Pattern.compile("[0-9]\\.[0-9]")
    val Seq(inline, command, dec) = Heuristics.MathPatterns
    val Seq(_, display, assign, frac, integral, sum) = Heuristics.EquationPatterns
    Seq(
      ("$", _.contains("$"), Seq(inline)),
      ("\\", _.contains("\\"), Seq(command)),
      ("digit.digit", decimal.matcher(_).find(), Seq(dec)),
      ("[ or (", s => s.contains("[") || s.contains("("), Seq(Heuristics.RefPatternBasic)),
      ("$$", _.contains("$$"), Seq(display)),
      ("=", _.contains("="), Seq(assign)),
      ("\\frac{", _.contains("\\frac{"), Seq(frac)),
      ("\\int", _.contains("\\int"), Seq(integral)),
      ("\\sum", _.contains("\\sum"), Seq(sum)))
  }

  test("pattern counts equal the regex mirrors; every literal is necessary (seeded property)") {
    val seen = Array.fill(countGuards.length, 2)(0)
    PropertySpec.check(Prop.forAll(textGen) { t =>
      val necessary = countGuards.indices.forall { i =>
        val (_, has, patterns) = countGuards(i)
        val g = has(t)
        seen(i)(if (g) 1 else 0) += 1
        g || patterns.forall(Heuristics.patternCountStr(t, _) == 0L)
      }
      val a = PatternCounts.compute(t)
      necessary &&
        a(0) == Heuristics.mathExpressionCountStr(t) &&
        a(1) == Heuristics.referenceCountStr(t) &&
        a(2) == Heuristics.equationCountStr(t)
    }, Cases)
    for (i <- countGuards.indices; b <- 0 to 1)
      assert(seen(i)(b) >= Floor,
        s"literal ${countGuards(i)._1} seen ${if (b == 1) "present" else "absent"} " +
          s"only ${seen(i)(b)} times")
  }

  test("both kernels equal their references on extracted SynthCorpus text") {
    for (i <- 0L until 600L) {
      val t = graft.extract.HtmlText.extractClean(SynthCorpus.docFor(i).html)
      assert(PiiScrub.scrubKernel(t) == PiiScrub.scrubStr(t), s"scrub doc $i")
      val a = PatternCounts.compute(t)
      assert(a.toSeq == Seq(Heuristics.mathExpressionCountStr(t),
        Heuristics.referenceCountStr(t), Heuristics.equationCountStr(t)), s"counts doc $i")
    }
  }
}
