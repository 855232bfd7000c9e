package graft

import org.apache.spark.sql.functions._
import graft.rules.Heuristics

/** Gopher/C4 repetition + shape signals (north_star "repetition n-gram
  * dedup signals"): value-level checks on constructed documents; the
  * cross-engine check is the q51 DuckDB oracle over `documents`.
  */
class GopherSpec extends SparkTestBase {
  import spark.implicits._

  private def one(text: String, c: org.apache.spark.sql.Column): Any =
    Seq(text).toDF("text").select(c).head().get(0)

  test("dupLineFraction counts repeated non-empty trimmed lines") {
    assert(one("a\na\nb", Heuristics.dupLineFraction(col("text")))
      .asInstanceOf[Double] == 1.0 - 2.0 / 3.0)
    // blank and whitespace-only lines are excluded before counting
    assert(one("a\n\n  \na", Heuristics.dupLineFraction(col("text")))
      .asInstanceOf[Double] == 0.5)
    assert(one("", Heuristics.dupLineFraction(col("text"))) == 0.0)
  }

  test("dupNgramFraction measures repeated word n-grams, case-folded") {
    // tokens: x y x y x → 2-grams [x y, y x, x y, y x] → 1 - 2/4
    assert(one("x y X Y x", Heuristics.dupNgramFraction(col("text"), 2))
      .asInstanceOf[Double] == 0.5)
    // fewer tokens than n → no grams → 0.0
    assert(one("only two", Heuristics.dupNgramFraction(col("text"), 3)) == 0.0)
    // all-distinct grams → 0.0
    assert(one("a b c d e", Heuristics.dupNgramFraction(col("text"), 3)) == 0.0)
  }

  test("meanWordLength averages code-point token lengths") {
    assert(one("ab cdef", Heuristics.meanWordLength(col("text")))
      .asInstanceOf[Double] == 3.0)
    assert(one("", Heuristics.meanWordLength(col("text"))) == 0.0)
  }

  private val natural = ("the model predicts that energy is conserved in a closed system " +
    "and we can derive the relation for momentum with care ") * 3

  /** Asserts every field of `gopherStats(text, n)` equals the matching
    * individual Column function (ratios rounded as the struct rounds them).
    */
  private def assertStructEqualsColumns(df: org.apache.spark.sql.DataFrame, n: Int): Unit = {
    val t = col("text")
    // gopherKeep fixes n = 3; at n = 2 the same conjunction is built here
    val keep =
      if (n == 3) Heuristics.gopherKeep(t)
      else Heuristics.minLength(t, 50) &&
        Heuristics.wordCount(t).between(10, 200000) &&
        Heuristics.meanWordLength(t).between(2.0, 12.0) &&
        Heuristics.symbolRatio(t) < 0.30 &&
        Heuristics.dupLineFraction(t) < 0.50 &&
        Heuristics.dupNgramFraction(t, n) < 0.80
    val rows = graft.functions.ComputeOnce(df, "g", Heuristics.gopherStats(t, n))
      .select(t, col("g.*"),
        round(Heuristics.dupLineFraction(t), 6),
        round(Heuristics.dupNgramFraction(t, n), 6),
        round(Heuristics.meanWordLength(t), 6),
        round(Heuristics.symbolRatio(t), 6),
        round(Heuristics.stopwordRatio(t), 6),
        keep).collect()
    rows.foreach { r =>
      (1 to 6).foreach { i =>
        assert(r.get(i) == r.get(i + 6),
          s"n=$n field ${i - 1} on <${String.valueOf(r.get(0)).take(40)}>: " +
            s"struct=${r.get(i)} column=${r.get(i + 6)}")
      }
    }
  }

  test("gopherStats struct equals the individual Column functions field-for-field") {
    val shapes = Seq(
      "a\na\nb", "x y X Y x", "ab cdef", "", "   ", "only two",
      "the and of to a in that is for with more words here now ok", natural,
      Array.fill(20)("spam spam spam spam line").mkString("\n"),
      "@#$%^&*(){}[]<>~`|" * 20, "ünïcödé wörds ünïcödé wörds over here")
    assertStructEqualsColumns(shapes.toDF("text"), 3)
  }

  // The individual Column functions are the Let-bound higher-order-function
  // composition the native kernel is held to.
  test("native gopherStats ≡ the Let-bound HOF composition (incl. null/fuzz)") {
    val edge = Seq(
      null.asInstanceOf[String], "", "   ", "\n", " \n \n", "a\r\nb\r\na\r",
      " lead nbsp token　ideographic", "ab c d",
      "ünïcödé Wörds ÜNÏCÖDÉ wörds ß İ", "x y X Y x",
      "line one\nline one\n  line one  \nline two", natural)
    val rnd = new scala.util.Random(41)
    val fuzz = (0 until 150).map { _ =>
      val alphabet = "ab .\n\té$= X\r"
      (0 until rnd.nextInt(120)).map(_ =>
        alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val corpus = graft.fixtures.SynthCorpus.docsRaw(spark, 150, 4).toDF()
      .withColumn("text", graft.extract.Clean.basicClean(
        graft.extract.HtmlText.extractCol(col("html")))).select("text")
    for (n <- Seq(2, 3); df <- Seq((edge ++ fuzz).toDF("text"), corpus))
      assertStructEqualsColumns(df, n)
    // codegen: the expression must not split the span
    val plan = spark.range(3).select(Heuristics.gopherStats(
      concat(lit("tok "), col("id").cast("string"))).as("g"))
    assert(plan.queryExecution.executedPlan.toString.contains("*(1)"))
  }

  test("tokenizer unicode-whitespace semantics match the q51 oracle class") {
    // the q51 DuckDB oracle tokenizes with the RE2 class
    // [\t\n\x0B\f\r\x{0085}\x{2028}\x{2029}\p{Zs}]+ — the Unicode
    // White_Space set, which is what Java's (?U)\s+ means under
    // UNICODE_CHARACTER_CLASS. Pin the Spark side to that set: NBSP,
    // NEL, thin space, ideographic space, VT all split; \x1C-\x1F
    // (isWhitespace-but-not-White_Space) must NOT.
    def wc(t: String): Long =
      Seq(t).toDF("text").select(Heuristics.wordCount(col("text")))
        .head().getLong(0)
    assert(wc("a\u00A0b") == 2L, "NBSP must split")
    assert(wc("a\u2009b") == 2L, "thin space must split")
    assert(wc("a\u3000b") == 2L, "ideographic space must split")
    assert(wc("a\u000Bb") == 2L, "VT must split")
    assert(wc("a\u0085b") == 2L, "NEL must split")
    assert(wc("a\u001Cb") == 1L, "FS (U+001C) is not White_Space")
  }

  test("q51 plan evaluates each tokenizer exactly once (plan assertion)") {
    // regression guard for the CollapseProject re-inlining trap: a
    // refactor that passes the tokenizer into a multi-reference builder
    // without a Let binding blows the plan up to ~25 tokenizer copies
    // (measured: q51 0.5 → 11.7 s) — pin the count structurally
    val df = graft.functions.ComputeOnce(
      Seq("some text here").toDF("text"), "__g",
      Heuristics.gopherStats(col("text")))
      .select(col("__g.dup_3gram_frac"), col("__g.gopher_keep"))
    val plan = df.queryExecution.optimizedPlan.toString
    def occurrences(needle: String): Int =
      plan.sliding(needle.length).count(_ == needle)
    val lowered = occurrences("split(lower(text")
    val raw = occurrences("split(text")
    assert(lowered <= 1, s"lowered tokenizer inlined $lowered times")
    assert(raw <= 2, s"raw tokenizer/line split inlined $raw times")
  }

  test("gopherKeep composite: natural text passes, degenerate text fails") {
    val natural = ("the model predicts that energy is conserved in a closed " +
      "system and we can derive the relation for momentum with care ") * 3
    val repeatedLines = Array.fill(20)("spam spam spam spam line").mkString("\n")
    val symbols = "@#$%^&*(){}[]<>~`|" * 20
    val tooShort = "tiny"
    val df = Seq(natural, repeatedLines, symbols, tooShort).toDF("text")
    val got = df.select(Heuristics.gopherKeep(col("text")).as("k"))
      .collect().map(_.getBoolean(0)).toSeq
    assert(got == Seq(true, false, false, false))
  }
}
