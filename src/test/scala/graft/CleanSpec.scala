package graft

import org.apache.spark.sql.functions._
import graft.extract.{Clean, HtmlText}

/** Golden tests for the cleaning chain (SURVEY.md §5.1). Expected values are
  * hand-derived from the reference's Python logic, file:line cited per case.
  */
class CleanSpec extends SparkTestBase {
  import spark.implicits._

  private def runCol(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
                     input: String): String =
    Seq(input).toDF("t").select(f(col("t")).as("r")).head().getString(0)

  // C1 — analysis/pdf_processor.py:67-73
  val c1Vectors: Seq[(String, String)] = Seq(
    ("hello   world", "hello world"),           // \s+ collapse
    ("a\tb\nc", "a b c"),                       // tabs/newlines too
    ("café résumé", "caf rsum"), // non-ASCII stripped
    ("x\u00A0y", "x y"),                  // unicode NBSP is \s in python; (?U) pins Java
    ("  trimmed  ", "trimmed"),
    ("", ""),
    ("ﬁne ﬂow", "ne ow") // ligatures are non-ASCII: stripped BEFORE the
                          // dead-code replace — reference order parity
  )

  test("C1 basicClean matches reference semantics (pdf_processor.py:67-73)") {
    for ((in, want) <- c1Vectors) {
      assert(Clean.basicCleanStr(in) == want, s"Str for <$in>")
      assert(runCol(Clean.basicClean, in) == want, s"Col for <$in>")
    }
  }

  test("C1 Column and String forms agree on awkward inputs") {
    val inputs = Seq("a  b c", "α β γ", "$x = 1$ \\frac{a}{b}", "1.23...x",
      "\n\n\nPage 3\n7\nab\n", "ﬁﬂ mix é ü")
    for (in <- inputs)
      assert(runCol(Clean.basicClean, in) == Clean.basicCleanStr(in), s"<$in>")
  }

  // C4 — enhanced_paper_analyser.py:174-192
  test("C4 titleClean: admin notes, page counts, short default") {
    assert(Clean.titleCleanStr("3 Pages. A Grand Unified Theory of Everything")
      == "A Grand Unified Theory of Everything")
    assert(Clean.titleCleanStr("Gravity Waves (Note by viXra Admin: do not cite) Explained")
      == "Gravity Waves Explained")
    assert(Clean.titleCleanStr("short") == Clean.TitleDefault)
    assert(Clean.titleCleanStr("") == Clean.TitleMissing)
    for (in <- Seq("3 Pages. A Grand Unified Theory", "x (Note by viXra Admin: y) zzzzzzz"))
      assert(runCol(Clean.titleClean, in) == Clean.titleCleanStr(in))
  }

  // C5 — enhanced_paper_analyser.py:194-203
  test("C5 abstractTruncate at 1000 chars") {
    val long = "a" * 1500
    assert(Clean.abstractTruncateStr(long) == "a" * 1000 + "...")
    assert(Clean.abstractTruncateStr("short") == "short")
    assert(runCol(Clean.abstractTruncate, long) == "a" * 1000 + "...")
  }

  // C6 — enhanced_paper_analyser.py:895-916
  test("C6 trainingClean strips citations, page and figure refs") {
    val in = "Result [12] shown in Figure 3 on Page 2 of 9 holds."
    val want = "Result  shown in  on  holds." // three removals leave doubled spaces
    // reference order: \s+ collapse FIRST, then removals — so doubled spaces remain
    assert(Clean.trainingCleanStr(in) == want)
    assert(runCol(Clean.trainingClean, in) == want)
  }

  // E1 — HTML extraction golden
  test("E1 extract: tags stripped, entities decoded, script/style dropped") {
    val html =
      """<html><head><title>t</title><style>p{}</style>
        |<script>if(a&&b){}</script></head>
        |<body><!-- c --><p>Hello &amp; welcome</p><p>caf&eacute; &#233;</p>
        |<div>Line</div></body></html>""".stripMargin
    val got = HtmlText.extract(html.getBytes("UTF-8"))
    assert(got.contains("Hello & welcome"))
    assert(got.contains("café é"))
    assert(got.contains("Line"))
    assert(!got.contains("script"))
    assert(!got.contains("<"))
  }

  test("E1 extract is deterministic and idempotent-safe on empty/invalid") {
    assert(HtmlText.extract(null) == "")
    assert(HtmlText.extract(Array[Byte]()) == "")
    val junk = Array[Byte](-1, -2, 60, 112, 62, 104, 105, 60, 47, 112, 62) // \xff\xfe<p>hi</p>
    assert(HtmlText.extract(junk).contains("hi"))
  }

  test("cleaning stabilizes after the second application") {
    // NOTE: C1 is deliberately NOT idempotent — the reference collapses \s+
    // BEFORE stripping non-ASCII runs (pdf_processor.py:69-71), so removing
    // a non-ASCII token can re-create a double space. Faithful reproduction;
    // the invariant that DOES hold is stability from the second application.
    val inputs = Seq("a  b c.", "café ﬁ x", "x=α+1 \n 42 \n Page 2", "", "  ")
    for (in <- inputs) {
      val twice = Clean.basicCleanStr(Clean.basicCleanStr(in))
      assert(Clean.basicCleanStr(twice) == twice, s"<$in>")
    }
  }

  test("sparkLower equals UTF8String.toLowerCase on arbitrary strings (property)") {
    import org.apache.spark.unsafe.types.UTF8String
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // the mirror claim is read off the spark-unsafe bytecode; this pins
    // it against the RUNNING jar: full-ASCII byte-fold, else the
    // default-locale slow path — including İ/K/ſ, ligatures, astral
    val gen: Gen[String] = Gen.frequency(
      3 -> Gen.asciiPrintableStr,
      2 -> Gen.listOf(Gen.oneOf("İ", "K", "ſ", "ﬁ", "ß", "Σ", "ΣΑ",
        "ÀÉÎ", "中文", "🎉", "I", "AbC", " ", "\n")).map(_.mkString),
      1 -> Gen.listOf(Gen.choose(0x20.toChar, 0x2FF.toChar)).map(_.mkString))
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(2000).withInitialSeed(0x5eedL),
      Prop.forAll(gen) { s =>
        Clean.sparkLower(s) == UTF8String.fromString(s).toLowerCase.toString
      })
    assert(res.passed, res.status.toString)
  }

  test("sparkSubstr equals Spark substring(c,1,len) on arbitrary strings (property)") {
    import org.apache.spark.unsafe.types.UTF8String
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val gen: Gen[(String, Int)] = for {
      s <- Gen.frequency(
        2 -> Gen.asciiPrintableStr,
        1 -> Gen.listOf(Gen.oneOf("🎉", "𐐀", "x", "中", "é", "a b"))
          .map(_.mkString))
      n <- Gen.chooseNum(0, 12)
    } yield (s, n)
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(2000).withInitialSeed(0x5eedL),
      Prop.forAll(gen) { case (s, n) =>
        // Spark's substring(c, 1, n) = UTF8String.substringSQL(1, n):
        // code-point window, the thing Java's String.substring is not
        Clean.sparkSubstr(s, n) ==
          UTF8String.fromString(s).substringSQL(1, n).toString
      })
    assert(res.passed, res.status.toString)
  }
}
