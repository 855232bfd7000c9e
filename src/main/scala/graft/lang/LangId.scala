package graft.lang

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.rules.Heuristics

/** P4 — language identification (SURVEY.md §2.2 P4, §2.7).
  *
  * Two implementations, per BASELINE.json north_rule:
  *
  * 1. `englishStopwordCount` — the reference's exact semantics: how many
  *    of the 10 stopwords occur (substring containment, 0/1 each) in
  *    `lower(text[:1000])` (reference: enhanced_paper_analyser.py:152-160).
  *    It is read off `Heuristics.EligibilitySample`, the one-pass term
  *    mask `Pipeline.eligible` also counts its indicators from; the
  *    14-word list is the training gate's (`Derive.suitableForTraining`,
  *    :716-724). A native call inside whole-stage codegen; q10 calls it,
  *    so q10's DuckDB oracle checks it.
  *
  * 2. `NgramModel` — a fastText-style hashed char-n-gram linear classifier:
  *    hashed trigram features → per-language weight table → argmax. The
  *    weight table is built deterministically from embedded per-language
  *    marker lexicons (no training data exists in the sandbox; the model is
  *    a fixed, reproducible profile). Each JVM holds one lazily built
  *    instance (`Shared`); rows never visit the driver.
  */
object LangId {

  /** The reference's 10-word list (enhanced_paper_analyser.py:152). */
  val EnglishStopwords10: Seq[String] =
    Seq("the", "and", "of", "to", "a", "in", "that", "is", "for", "with")

  /** The 14-word training-gate variant (enhanced_paper_analyser.py:716). */
  val EnglishStopwords14: Seq[String] =
    EnglishStopwords10 ++ Seq("equation", "we", "can", "from")

  /** How many of the 10 stopwords occur in `lower(text[:1000])` — the
    * reference's `sum(1 for word in english_words if word in
    * text_sample)`, read off the eligibility gate's one-pass sample mask.
    */
  def englishStopwordCount(text: Column): Column = {
    val sample = Heuristics.EligibilitySample
    sample.count(sample.mask(text), EnglishStopwords10)
  }

  /** Plain-Scala mirror of `englishStopwordCount`. */
  def englishStopwordCountStr(text: String): Int =
    Heuristics.termCountStr(Heuristics.lowerPrefixStr(text, 1000), EnglishStopwords10)

  // ------------------------------------------------------------------
  // Hashed char-n-gram model (fastText-style)
  // ------------------------------------------------------------------

  /** Deterministic FNV-1a 32-bit over a char trigram — cheap, stable across
    * JVMs (no String.hashCode dependence on future JDKs, no salted hash like
    * Python's — cf. SURVEY.md §7.4 item 4).
    */
  @inline private[lang] def hashGram(a: Char, b: Char, c: Char, dim: Int): Int = {
    var h = 0x811c9dc5
    h = (h ^ a) * 0x01000193
    h = (h ^ b) * 0x01000193
    h = (h ^ c) * 0x01000193
    math.floorMod(h, dim)
  }

  /** Per-language marker lexicons (most-frequent function words; public
    * knowledge). Rank implies weight: earlier = heavier.
    */
  private val Lexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with",
      "was", "this", "are", "from", "which", "not", "have", "has", "they"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "den", "nicht",
      "mit", "sich", "auf", "ein", "eine", "als", "auch", "werden", "für"),
    "es" -> Seq("que", "los", "las", "una", "por", "con", "para", "está",
      "del", "como", "pero", "más", "este", "esta", "son", "sus"),
    "fr" -> Seq("les", "des", "est", "une", "dans", "qui", "pour", "pas",
      "sur", "sont", "avec", "être", "cette", "mais", "nous", "vous"),
    "it" -> Seq("che", "della", "per", "una", "sono", "con", "del", "nel",
      "alla", "anche", "come", "più", "questo", "gli", "dei")
  )

  val Languages: Array[String] = Lexicons.map(_._1).toArray

  /** The model: flat weight matrix [lang][bucket]. */
  final case class NgramModel(dim: Int, langs: Array[String],
                              weights: Array[Array[Float]]) extends Serializable {
    /** Classify one text sample. Returns language code or "und".
      *
      * Trigram extraction mirrors training exactly: each whitespace token is
      * padded " tok " and its trigrams hashed — never sliding across word
      * boundaries (a raw char window would score "der" inside English
      * "order" as German evidence).
      */
    def predict(text: String, sampleLen: Int = 500): String = {
      if (text == null || text.length < 3) return "und"
      val s = text.substring(0, math.min(text.length, sampleLen)).toLowerCase(java.util.Locale.ROOT)
      val scores = new Array[Double](langs.length)
      var grams = 0
      val n = s.length
      var i = 0
      while (i < n) {
        // find the next token [i, j)
        while (i < n && graft.rules.TokenStats.isUnicodeWs(s.charAt(i))) i += 1
        var j = i
        while (j < n && !graft.rules.TokenStats.isUnicodeWs(s.charAt(j))) j += 1
        if (j > i) {
          // trigrams of " tok " without materializing the padded string
          var k = -1 // window start relative to padding: char at p = if in-range s else ' '
          val end = j - i // token length
          while (k <= end - 2) {
            val c0 = if (k < 0) ' ' else s.charAt(i + k)
            val c1 = if (k + 1 < end) s.charAt(i + k + 1) else ' '
            val c2 = if (k + 2 < end) s.charAt(i + k + 2) else ' '
            val b = hashGram(c0, c1, c2, dim)
            var l = 0
            while (l < langs.length) { scores(l) += weights(l)(b); l += 1 }
            grams += 1
            k += 1
          }
        }
        i = j
      }
      if (grams == 0) return "und"
      var best = 0; var l = 1
      while (l < langs.length) { if (scores(l) > scores(best)) best = l; l += 1 }
      // absolute floor + margin test: junk text accumulates a little mass
      // on every profile; a real language wins by a clear factor over the
      // runner-up. Both thresholds deterministic.
      var second = 0.0
      l = 0
      while (l < langs.length) {
        if (l != best && scores(l) > second) second = scores(l)
        l += 1
      }
      val bestAvg = scores(best) / grams
      if (bestAvg < 0.01 || scores(best) < second * 1.3) "und" else langs(best)
    }
  }

  /** Build the fixed model (deterministic, no RNG). */
  def buildModel(dim: Int = 1 << 15): NgramModel = {
    val weights = Array.fill(Lexicons.length)(new Array[Float](dim))
    Lexicons.zipWithIndex.foreach { case ((_, words), li) =>
      words.zipWithIndex.foreach { case (w, rank) =>
        val ww = 1.0f / (1 + rank) // Zipf-ish rank weight
        val padded = " " + w + " "
        var i = 0
        while (i + 3 <= padded.length) {
          val b = hashGram(padded.charAt(i), padded.charAt(i + 1), padded.charAt(i + 2), dim)
          weights(li)(b) += ww
          i += 1
        }
      }
    }
    NgramModel(dim, Languages, weights)
  }

  /** JVM-static instance, as `Perplexity.Shared`: the model is built from
    * code-embedded data, so each JVM builds it once, lazily, and no call
    * ships or re-builds the (dim × langs) float table.
    */
  lazy val Shared: NgramModel = buildModel()

  /** Apply the model over a DataFrame, predicting per row on the executors.
    * Adds `langCol` from `textCol` through the native [[predictUtf8]];
    * rows never visit the driver. `spark` is not used.
    */
  def withLangNgram(df: DataFrame, textCol: String, langCol: String,
                    spark: SparkSession): DataFrame =
    df.withColumn(langCol, graft.functions.Native.nullAware(this, "predictUtf8",
      org.apache.spark.sql.types.StringType, nullable = false, col(textCol)))

  /** The kernel behind `withLangNgram`: `Shared.predict` of the text, "und"
    * for null. `predict` reads 500 UTF-16 chars, so only the first 500
    * code points are decoded (at least 500 chars, or the whole text). A
    * prefix that is not valid UTF-8 could decode differently from the
    * same bytes inside the whole text, so then the whole text is decoded.
    */
  def predictUtf8(text: UTF8String): UTF8String = {
    val s =
      if (text == null) null
      else {
        val head = text.substringSQL(1, 500)
        if (head.isValid) head.toString else text.toString
      }
    UTF8String.fromString(Shared.predict(s))
  }
}
