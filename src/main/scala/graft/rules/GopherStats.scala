package graft.rules

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused single-pass Gopher/C4 signal battery — the native form of the
  * individual Heuristics Column functions (`dupLineFraction` …
  * `gopherKeep`), which stay as its reference surface.
  *
  * Round-6 measurement: the Let-bound HOF form it replaced paid interpreted
  * lambda evaluation per line/token/n-gram (transform + filter + aggregate
  * + concat_ws per position) — ~0.23 ms/doc on 300-char docs, the
  * second-largest term in the q51/q52/q53 paths after shingling. This
  * expression computes every signal in ONE forward pass over the text plus
  * one pass over its `sparkLower` image.
  *
  * Mirror contract (bit-identical; GopherSpec parity test + the q51 DuckDB
  * oracle pin it):
  *   - lines: split on literal '\n', Spark `trim` (U+0020 only), non-empty;
  *     duplicate fraction = 1 − distinct/total by EXACT string equality.
  *   - tokens: maximal runs of non-(Unicode White_Space) code points —
  *     `TokenStats.isUnicodeWs`, the (?U)\s set.
  *   - n-grams: over tokens of `sparkLower(text)` (the whole-string
  *     lowercase image, exactly `lower(c)`), joined by ' '; duplicate
  *     fraction by exact tuple equality (token-id interning — the " "-join
  *     is injective because tokens contain no whitespace).
  *   - mean word length: code-point token lengths over UNlowered tokens.
  *   - symbol ratio: code points outside Java `[\p{Alnum}\s]` (ASCII
  *     alnum + ASCII ws — the non-Unicode regex classes `regexp_replace`
  *     uses) over total code points.
  *   - stopword ratio: tokens whose `sparkLower` is one of the 10
  *     stopwords, over all tokens.
  *   - keep: the UNROUNDED conjunction of gopherKeep; ratio fields are
  *     rounded HALF_UP to 6 (java BigDecimal.valueOf — Spark's `round`).
  *   - null text: (null, 0.0, 0.0, null, 0.0, false) — exactly the
  *     three-valued-logic image of the Column form (tokensOrEmpty guards
  *     token signals to 0.0/empty; line/symbol signals stay null; the
  *     keep conjunction collapses to false through wc=0).
  */
object GopherStats {

  private val StopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    graft.lang.LangId.EnglishStopwords10.foreach(s.add)
    s
  }

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  @inline private def isAsciiAlnumOrWs(cp: Int): Boolean =
    (cp >= '0' && cp <= '9') || (cp >= 'A' && cp <= 'Z') ||
      (cp >= 'a' && cp <= 'z') ||
      cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B || cp == '\f' ||
      cp == '\r'

  /** (dup_line, dup_ngram, mean_word_len, symbol_ratio, stopword_ratio,
    * keep) — see the mirror contract above.
    */
  def computeRow(u: UTF8String, n: Int): InternalRow = {
    if (u == null)
      return new GenericInternalRow(
        Array[Any](null, 0.0, 0.0, null, 0.0, false))
    val s = u.toString
    val len = s.length

    // ---- one pass over the raw chars: lines, tokens, symbols, trim ----
    var lineTotal = 0
    val lineSet = new java.util.HashSet[String]()
    var lineStart = 0
    @inline def endLine(endExcl: Int): Unit = {
      var a = lineStart; var b = endExcl
      while (a < b && s.charAt(a) == ' ') a += 1   // Spark trim: ' ' only
      while (b > a && s.charAt(b - 1) == ' ') b -= 1
      if (b > a) { lineTotal += 1; lineSet.add(s.substring(a, b)) }
    }
    var wc = 0L
    var sumTokLen = 0L
    var stopCount = 0L
    var cpTotal = 0L
    var cpMatched = 0L
    var tokStart = -1
    @inline def endToken(endExcl: Int): Unit = {
      if (tokStart >= 0) {
        wc += 1
        sumTokLen += s.codePointCount(tokStart, endExcl)
        if (StopSet.contains(
          graft.extract.Clean.sparkLower(s.substring(tokStart, endExcl))))
          stopCount += 1
        tokStart = -1
      }
    }
    var i = 0
    while (i < len) {
      val c = s.charAt(i)
      if (c == '\n') { endLine(i); lineStart = i + 1 }
      if (TokenStats.isUnicodeWs(c)) endToken(i)
      else if (tokStart < 0) tokStart = i
      if (!Character.isLowSurrogate(c)) {
        cpTotal += 1
        if (isAsciiAlnumOrWs(c)) cpMatched += 1 // matched classes are ASCII
      }
      i += 1
    }
    endLine(len); endToken(len)

    // minLength(c, 50): code points of the space-trimmed text
    var ta = 0; var tb = len
    while (ta < tb && s.charAt(ta) == ' ') ta += 1
    while (tb > ta && s.charAt(tb - 1) == ' ') tb -= 1
    val trimmedLen = s.codePointCount(ta, tb)

    // ---- pass over the lowercase image: n-gram duplicate fraction ----
    val ls = graft.extract.Clean.sparkLower(s)
    val llen = ls.length
    val ids = new java.util.HashMap[String, Integer]()
    var lt = new Array[Int](32)
    var ltCount = 0
    var ltStart = -1
    @inline def endLTok(endExcl: Int): Unit = {
      if (ltStart >= 0) {
        val w = ls.substring(ltStart, endExcl)
        var id = ids.get(w)
        if (id == null) { id = ids.size(); ids.put(w, id) }
        if (ltCount == lt.length) lt = java.util.Arrays.copyOf(lt, ltCount * 2)
        lt(ltCount) = id; ltCount += 1
        ltStart = -1
      }
    }
    var j = 0
    while (j < llen) {
      if (TokenStats.isUnicodeWs(ls.charAt(j))) endLTok(j)
      else if (ltStart < 0) ltStart = j
      j += 1
    }
    endLTok(llen)
    val gramTotal = math.max(ltCount - (n - 1), 0)
    var gramDistinct = 0
    if (gramTotal > 0) {
      if (n <= 3 && ids.size() < (1 << 21)) {
        // exact tuple identity packed into one long (21 bits per id)
        val seen = new java.util.HashSet[java.lang.Long]()
        var p = 0
        while (p < gramTotal) {
          var key = 0L
          var q = 0
          while (q < n) { key = (key << 21) | lt(p + q).toLong; q += 1 }
          seen.add(key)
          p += 1
        }
        gramDistinct = seen.size()
      } else {
        val seen = new java.util.HashSet[String]()
        val sb = new java.lang.StringBuilder()
        var p = 0
        while (p < gramTotal) {
          sb.setLength(0)
          var q = 0
          while (q < n) {
            if (q > 0) sb.append(',')
            sb.append(lt(p + q))
            q += 1
          }
          seen.add(sb.toString)
          p += 1
        }
        gramDistinct = seen.size()
      }
    }

    // ---- assemble (identical arithmetic to the Column form) ----
    val dl =
      if (lineTotal == 0) 0.0
      else 1.0 - lineSet.size().toDouble / lineTotal.toDouble
    val dg =
      if (gramTotal == 0) 0.0
      else 1.0 - gramDistinct.toDouble / gramTotal.toDouble
    val mwl = if (wc == 0L) 0.0 else sumTokLen.toDouble / wc.toDouble
    val sym =
      if (cpTotal == 0L) 0.0
      else (cpTotal - cpMatched).toDouble / cpTotal.toDouble
    val sw = if (wc == 0L) 0.0 else stopCount.toDouble / wc.toDouble
    val keep = trimmedLen >= 50 &&
      wc >= 10L && wc <= 200000L &&
      mwl >= 2.0 && mwl <= 12.0 &&
      sym < 0.30 && dl < 0.50 && dg < 0.80
    new GenericInternalRow(Array[Any](
      round6(dl), round6(dg), round6(mwl), round6(sym), round6(sw), keep))
  }

  def outSchema(n: Int): StructType = StructType(Seq(
    StructField("dup_line_frac", DoubleType),
    StructField(s"dup_${n}gram_frac", DoubleType),
    StructField("mean_word_len", DoubleType),
    StructField("symbol_ratio", DoubleType),
    StructField("stopword_ratio", DoubleType),
    StructField("gopher_keep", BooleanType)))
}
