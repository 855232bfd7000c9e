package graft.textanalysis

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table (builder-prompt
  * mandate): quality scoring, token counting, document fingerprinting.
  * Language-ID lives in graft.lang.LangId. Pure Catalyst throughout.
  */
object TextAnalysis {

  /** ASCII whitespace tokens (matches RE2/DuckDB `\s` for oracle parity). */
  def wsTokens(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  /** Composite 0..1 web-text quality score from cheap ratios
    * (C4/Gopher-flavored: length, stopword mass, punctuation balance,
    * alpha fraction). Deterministic, SQL-expressible.
    */
  def qualityScore(c: Column): Column = {
    val len = length(c).cast("double")
    val toks = wsTokens(c)
    val nTok = size(toks).cast("double")
    val stop = graft.lang.LangId.EnglishStopwords10
      .map(w => when(array_contains(toks, w), 1.0).otherwise(0.0))
      .reduce(_ + _) / 10.0 // fraction of the 10 stopwords present
    val alphaFrac = when(len === 0, 0.0)
      .otherwise(length(regexp_replace(c, "[^A-Za-z ]", "")).cast("double") / len)
    val lenScore = least(lit(1.0), len / 1000.0)
    val wordScore = least(lit(1.0), nTok / 200.0)
    round(least(lit(1.0),
      lenScore * 0.25 + wordScore * 0.25 + stop * 0.25 + alphaFrac * 0.25), 6)
  }

  /** Polynomial rolling hash over the raw chars — the classic Rabin-Karp
    * document fingerprint, accumulated mod the Mersenne prime 2^31-1 so the
    * arithmetic is portable (DuckDB raises on BIGINT overflow rather than
    * wrapping — mod keeps both engines exact).
    */
  val FpMod = 2147483647L // 2^31 - 1

  def rollingFingerprint(c: Column): Column =
    when(length(c) === 0, lit(0L)).otherwise(
      // filter guards against the trailing "" Java's split(re, -1) emits
      aggregate(filter(split(c, ""), ch => length(ch) > 0),
        lit(0L), (acc, ch) => (acc * 31L + ascii(ch)) % FpMod))

  def rollingFingerprintStr(t: String): Long = {
    if (t == null || t.isEmpty) return 0L
    var acc = 0L
    var i = 0
    while (i < t.length) { acc = (acc * 31L + t.charAt(i).toLong) % FpMod; i += 1 }
    acc
  }
}
