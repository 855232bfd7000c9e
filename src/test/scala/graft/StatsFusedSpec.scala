package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.rules.{Heuristics, TokenStats}

/** Fused TokenStats must equal the pure-Catalyst textStats field-for-field
  * — on fixture texts and on whitespace/unicode edge cases.
  */
class StatsFusedSpec extends SparkTestBase {
  import spark.implicits._

  GraftFunctions.register(spark)

  private val edgeCases = Seq(
    "", " ", "one", "energy force matrix proof",
    "ENERGY Force. mass..", "a b c d", // NBSP-family spaces
    "xy", // U+001D: python-\s yes, unicode White_Space no — our regex
                // (?U)\s treats it as NON-space; scanner must agree
    "tab\tsep\nnl", "dots... everywhere. 3.14",
    "  leading trailing  ", "equation energy equation energy",
    // leading/trailing NON-' ' whitespace — the round-1 flaky-parity class:
    // Spark trim strips only ' ', Java trim <= 0x20; the tokenizer must
    // drop the empty tokens these would otherwise produce
    "\thello", " abc", "xy", "energy ", "  force\t")

  test("fused token stats equal the regex mirrors on edge cases") {
    for (t <- edgeCases) {
      val a = TokenStats.compute(t)
      assert(a(0) == Heuristics.wordCountStr(t), s"wc <$t>")
      assert(a(1) == Heuristics.tokenMembershipCountStr(t, Heuristics.PhysicsTerms), s"pt <$t>")
      assert(a(2) == Heuristics.tokenMembershipCountStr(t, Heuristics.MathTerms), s"mt <$t>")
      assert(a(3) == (if (t == null) 0L else t.count(_ == '.').toLong), s"dots <$t>")
    }
  }

  test("fused struct equals pure-Catalyst textStats on the fixture corpus") {
    val texts = graft.fixtures.SynthCorpus.docsRaw(spark, 150, 4).toDF()
      .withColumn("text",
        graft.extract.Clean.basicClean(graft.extract.HtmlText.extractCol(col("html"))))
      .select("url", "text")
    val fused = texts
      .withColumn("ts", call_function("graft_token_stats", col("text")))
      .withColumn("pc", call_function("graft_pattern_counts", col("text")))
      .withColumn("stats",
        Heuristics.textStatsFused(col("text"), col("ts"), col("pc")))
      .select(col("url"), col("stats"))
    val plain = texts.withColumn("stats", Heuristics.textStats(col("text")))
      .select(col("url"), col("stats"))
    val joined = fused.as("f").join(plain.as("p"), "url")
      .filter(col("f.stats") =!= col("p.stats"))
    assert(joined.count() == 0)
  }

  test("basicCleanFast equals the regex chain on edge cases and corpus") {
    val cases = edgeCases ++ Seq("caf\u00e9 \ufb01 x", "a \u00e9 b", "x=\u03b1+1 \n 42")
    for (t <- cases)
      assert(graft.extract.Clean.basicCleanFastStr(t) == graft.extract.Clean.basicCleanStr(t),
        s"<$t>")
    val texts = graft.fixtures.SynthCorpus.docsRaw(spark, 100, 4).toDF()
      .select(graft.extract.HtmlText.extractCol(col("html")).as("raw"))
    val bad = texts.filter(
      call_function("graft_basic_clean", col("raw")) =!=
        graft.extract.Clean.basicClean(col("raw"))).count()
    assert(bad == 0)
  }

  test("fused extract+clean equals the chained extract -> basicClean forms") {
    // corpus bytes (the real input shape)
    val raws = graft.fixtures.SynthCorpus.docsRaw(spark, 200, 4)
      .collect().map(_.html)
    for (b <- raws) {
      val chained = graft.extract.Clean.basicCleanStr(graft.extract.HtmlText.extract(b))
      assert(graft.extract.HtmlText.extractClean(b) == chained)
    }
    // edge cases: entities (ascii + non-ascii + nbsp), block/skip tags,
    // comments, malformed tags, ws-run/non-ascii interleaving
    val edges = Seq(
      "", "<p>a</p>", "a<!--x-->b", "a <!-- x --> b",
      "<script>var x = '<p>';</script>after",
      "a&nbsp;&nbsp;b", "x &eacute; y", "5 &lt; 6 &amp; 7 &gt; 4",
      "<div>one</div><div>two</div>", "<ul><li>i1</li><li>i2</li></ul>",
      "no tags at all", "broken <tag", "amp & alone; x",
      "café ﬁn ﬂy", "a α\tb", "&#65;&#x42;c",
      "<H1>Upper</H1> <BR> next", "<p >spaced attr</p >",
      "<style type='x'>p{}</style>kept")
    for (t <- edges) {
      val b = t.getBytes("UTF-8")
      val chained = graft.extract.Clean.basicCleanStr(graft.extract.HtmlText.extract(b))
      assert(graft.extract.HtmlText.extractClean(b) == chained, s"<$t>")
    }
  }

  test("byte-native extract+clean equals the decode-then-scan reference") {
    import graft.extract.HtmlText
    // corpus bytes
    val raws = graft.fixtures.SynthCorpus.docsRaw(spark, 200, 4)
      .collect().map(_.html)
    for (b <- raws)
      assert(HtmlText.extractCleanBytes(b).toString == HtmlText.extractClean(b))
    // valid-UTF-8 edges incl. NON-ASCII UNICODE WHITESPACE (must become a
    // space, not be dropped) and 4-byte (non-BMP) sequences
    val strEdges = Seq(
      "a b", "x  y", "a b", "par sep",
      "emoji 😀 here", "tag<p> </p>x",
      "&nbsp; &eacute;", "mixed 　 ideographic",
      "<scrípt>not a skip tag</scrípt>ok",
      "<pé>accented tag name</pé>t")
    for (t <- strEdges) {
      val b = t.getBytes("UTF-8")
      assert(HtmlText.extractCleanBytes(b).toString == HtmlText.extractClean(b), s"<$t>")
    }
    // MALFORMED byte sequences: stray continuation, overlong, surrogate
    // range, truncated lead, out-of-range lead — decoder-IGNORE deletes
    // them; the byte scanner must skip them with identical output
    val byteEdges: Seq[Array[Byte]] = Seq(
      Array('a', 0x80.toByte, 'b'),
      Array('a', ' ', 0xFF.toByte, ' ', 'b'),
      Array(0xC0.toByte, 0xAF.toByte, 'x'), // overlong '/'
      Array(0xED.toByte, 0xA0.toByte, 0x80.toByte, 'y'), // surrogate
      Array('t', 0xE2.toByte), // truncated 3-byte at end
      Array('<', 'p', '>', 0xF5.toByte, 'q'),
      Array('&', 'a', 'm', 0x90.toByte, 'p', ';', 'z'),
      Array(' ', 0xC2.toByte, 0xA0.toByte, ' ', 'w') // valid NBSP between spaces
    ).map(_.map(_.toByte))
    for (b <- byteEdges)
      assert(HtmlText.extractCleanBytes(b).toString == HtmlText.extractClean(b),
        b.map(x => f"${x & 0xFF}%02x").mkString(" "))
  }

  test("fused pattern counts equal the regexp_extract_all battery") {
    val cases = Seq("$x=1$ and $$y$$ \\frac{a}{b} 3.14 [1] (2023) E = mc2 more",
      "", "no patterns here", "\\int f dx \\sum x [12] et al. Ref. 3")
    for (t <- cases) {
      val a = graft.rules.PatternCounts.compute(t)
      assert(a(0) == Heuristics.mathExpressionCountStr(t), s"math <$t>")
      assert(a(1) == Heuristics.referenceCountStr(t), s"ref <$t>")
      assert(a(2) == Heuristics.equationCountStr(t), s"eq <$t>")
    }
  }

  test("fused expression is codegen-compatible") {
    val df = spark.range(3).select(
      call_function("graft_token_stats",
        concat(lit("energy proof x"), col("id").cast("string"))).as("ts"))
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"))
    val r = df.select(col("ts.word_count"), col("ts.physics_terms")).head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 1L)
  }
}

/** Langid model sanity on real-language samples (word-boundary trigrams). */
class LangIdQualitySpec extends SparkTestBase {
  private val model = graft.lang.LangId.buildModel()

  test("trigram model classifies obvious samples") {
    assert(model.predict("the energy of the system is given by the equation and we find that it is") == "en")
    assert(model.predict("der Hund und die Katze sind nicht mit dem Auto auf der Strasse") == "de")
    assert(model.predict("los resultados de una prueba con las condiciones para este caso") == "es")
    assert(model.predict("les résultats sont dans une bonne condition pour cette mesure avec nous") == "fr")
    assert(model.predict("zvq xrt plk wnm qrs vbz ktj drn") == "und")
    assert(model.predict("") == "und")
  }

  test("english word containing a german trigram does not flip the label") {
    // "order" contains 'der'; boundary-trigram extraction must not score it
    assert(model.predict("the order of the records for the batch is fixed and we can sort it") == "en")
  }
}
