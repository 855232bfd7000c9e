package graft.extract

import java.nio.charset.StandardCharsets
import java.nio.charset.CodingErrorAction
import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** E1 — deterministic HTML → text extraction (SURVEY.md §2.4 E1).
  *
  * The reference extracts text from PDF bytes with pdfplumber, falling back
  * to PyPDF2 on exception (reference: analysis/pdf_processor.py:25-65). The
  * graft's input is `html: binary` (BASELINE.json input_hint), so the analog
  * is a deterministic tag-stripping/entity-decoding extractor with the same
  * rich-parse → simple-strip fallback chain.
  *
  * This is the byte-identical-per-url invariant surface: a single canonical
  * implementation, golden-file tested, used both by the Spark pipeline (as a
  * UDF — the one documented non-codegen point besides the perplexity scorer)
  * and by the row-at-a-time oracle.
  */
object HtmlText {

  /** Lossy UTF-8 decode: drops malformed byte sequences, mirroring Python's
    * `bytes.decode('utf-8', errors='ignore')` used throughout the reference
    * (e.g. enhanced_paper_analyser.py:900).
    */
  def decodeUtf8Ignore(bytes: Array[Byte]): String = {
    if (bytes == null) return ""
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.IGNORE)
      .onUnmappableCharacter(CodingErrorAction.IGNORE)
    dec.decode(ByteBuffer.wrap(bytes)).toString
  }

  // Block-level tags that imply a paragraph/line break when stripped.
  private val BlockTags =
    "p|div|br|li|ul|ol|h1|h2|h3|h4|h5|h6|tr|table|section|article|header|footer|blockquote|pre"

  private val EntityMap: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
    "apos" -> "'", "#39" -> "'", "nbsp" -> " ",
    // common Latin-1 named entities seen in web text
    "eacute" -> "é", "egrave" -> "è", "agrave" -> "à", "ccedil" -> "ç",
    "uuml" -> "ü", "ouml" -> "ö", "auml" -> "ä", "szlig" -> "ß",
    "ntilde" -> "ñ", "copy" -> "©", "reg" -> "®", "deg" -> "°",
    "middot" -> "·", "hellip" -> "…", "mdash" -> "—", "ndash" -> "–",
    "lsquo" -> "'", "rsquo" -> "'", "ldquo" -> "“", "rdquo" -> "”"
  )

  private val CommentRe = "(?s)<!--.*?-->".r
  private val ScriptStyleRe = "(?is)<(script|style|head|noscript)\\b[^>]*>.*?</\\1\\s*>".r
  private val BlockOpenCloseRe = ("(?is)</?(" + BlockTags + ")\\b[^>]*>").r
  private val AnyTagRe = "(?s)<[^>]+>".r
  private val EntityRe = "&(#?[0-9a-zA-Z]+);".r

  /** The text the entity `&name;` stands for: a `#x` hex or `#` decimal
    * code unit, or a named entity; null when unknown or unparsable.
    */
  private def entity(name: String): String =
    if (name.startsWith("#x") || name.startsWith("#X"))
      try String.valueOf(Integer.parseInt(name.substring(2), 16).toChar)
      catch { case _: Exception => null }
    else if (name.startsWith("#"))
      try String.valueOf(Integer.parseInt(name.substring(1)).toChar)
      catch { case _: Exception => null }
    else EntityMap.getOrElse(name, null)

  private def decodeEntities(s: String): String =
    EntityRe.replaceAllIn(s, m => {
      val rep = entity(m.group(1))
      java.util.regex.Matcher.quoteReplacement(if (rep == null) m.matched else rep)
    })

  private val BlockTagSet: Set[String] = BlockTags.split('|').toSet
  private val SkipTagSet: Set[String] = Set("script", "style", "head", "noscript")

  /** Rich extraction: strips comments, script/style/head blocks, turns block
    * tags into newlines, strips remaining tags, decodes entities, and
    * normalizes blank-line runs. Analogous to the reference's pdfplumber
    * page-join with "\n\n" (pdf_processor.py:46-49).
    *
    * Implemented as a SINGLE-PASS scanner: the original 4-regex-pass chain
    * materialized four full copies of the page per document — pure memory
    * traffic, which is the measured scaling bottleneck on string pipelines
    * (BENCH/BASELINE.md §2). One forward scan allocates one output buffer.
    */
  def extractRich(html: String): String = {
    val n = html.length
    val sb = new java.lang.StringBuilder(math.min(n, 1 << 16))
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else {
          // parse tag name (skip optional '/')
          var j = i + 1
          val closing = j < n && html.charAt(j) == '/'
          if (closing) j += 1
          val nameStart = j
          while (j < n && Character.isLetterOrDigit(html.charAt(j))) j += 1
          val name = html.substring(nameStart, j).toLowerCase(java.util.Locale.ROOT)
          if (!closing && SkipTagSet.contains(name)) {
            // skip to the matching close tag (case-insensitive), then to '>'
            val close = "</" + name
            var k = i + 1
            var found = -1
            while (found < 0 && k >= 0 && k < n) {
              k = html.indexOf('<', k)
              if (k < 0) found = -2
              else if (k + close.length <= n &&
                html.regionMatches(true, k, close, 0, close.length)) found = k
              else k += 1
            }
            if (found >= 0) {
              val gt = html.indexOf('>', found)
              i = if (gt < 0) n else gt + 1
            } else i = n
          } else {
            if (BlockTagSet.contains(name)) sb.append("\n\n")
            val gt = html.indexOf('>', i)
            i = if (gt < 0) n else gt + 1
          }
        }
      } else if (c == '&') {
        // inline entity decode: &name; or &#nnn; or &#xhh; within 12 chars
        val semi = html.indexOf(';', i + 1)
        if (semi > i && semi - i <= 12) {
          val rep = entity(html.substring(i + 1, semi))
          if (rep != null) { sb.append(rep); i = semi + 1 }
          else { sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      } else {
        sb.append(c)
        i += 1
      }
    }
    // normalize: trim each line, collapse 3+ newlines to exactly two
    val s = sb.toString.split("\n", -1).map(_.trim).mkString("\n")
    s.replaceAll("\n{3,}", "\n\n").trim
  }

  /** Simple fallback: strip every tag, decode entities. Mirrors the
    * reference's PyPDF2 fallback (pdf_processor.py:51-59).
    */
  def extractSimple(html: String): String =
    decodeEntities(AnyTagRe.replaceAllIn(html, " ")).trim

  /** Canonical extraction with the fallback chain (try/catch mirrors the
    * reference's try pdfplumber / except → PyPDF2 at pdf_processor.py:42-59).
    */
  def extract(bytes: Array[Byte]): String = {
    val html = decodeUtf8Ignore(bytes)
    if (html.isEmpty) return ""
    try extractRich(html)
    catch { case _: Exception => extractSimple(html) }
  }

  /** FUSED extract + C1 basic clean: one forward scan from decoded html to
    * the final cleaned text (the round-1 stretch item — the pipeline's
    * remaining DRAM traffic was the extraction output materializations:
    * scan buffer → per-line strings → join → newline-collapse regex →
    * clean pass → output, six string copies per document; this emits ONE).
    *
    * Why it is equivalent to `basicCleanStr(extractRich(html))`: C1
    * collapses every (?U)\s run to a single space and strips non-ASCII, so
    * extractRich's intermediate line-trim/newline-collapse normalization —
    * pure whitespace restructuring — is invisible to the cleaned output.
    * The scan therefore classifies each emitted char directly with the C1
    * rules (ws-run → one ' '; non-ASCII dropped WITHOUT merging adjacent
    * ws runs — the reference's collapse-before-strip order, cf.
    * basicCleanFastStr). Block tags count as whitespace (they inserted
    * "\n\n"); comments/script blocks emit nothing and leave the ws-run
    * state untouched, exactly like their removal did.
    *
    * Documented divergence (same class as the U+001C note in Clean): a C0
    * control char that is NOT Unicode whitespace sitting at a line edge
    * was stripped by extractRich's per-line trim but is kept here; no
    * reference input path can produce one (they never survive the
    * reference's own cleaning) and the fixture/corpus generators emit
    * none. Equality vs the chained form is property-tested over the
    * corpus and an html-shaped generator in StatsFusedSpec/PropertySpec.
    */
  def extractCleanStr(html: String): String = {
    val n = html.length
    val sb = new java.lang.StringBuilder(math.min(n, 1 << 16))
    var prevWs = false
    @inline def emit(c: Char): Unit = {
      if (graft.rules.TokenStats.isUnicodeWs(c)) {
        if (!prevWs) sb.append(' ')
        prevWs = true
      } else {
        prevWs = false
        if (c <= 0x7F) sb.append(c)
      }
    }
    @inline def emitWs(): Unit = { if (!prevWs) sb.append(' '); prevWs = true }
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (html.startsWith("<!--", i)) {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else {
          var j = i + 1
          val closing = j < n && html.charAt(j) == '/'
          if (closing) j += 1
          val nameStart = j
          while (j < n && Character.isLetterOrDigit(html.charAt(j))) j += 1
          val name = html.substring(nameStart, j).toLowerCase(java.util.Locale.ROOT)
          if (!closing && SkipTagSet.contains(name)) {
            val close = "</" + name
            var k = i + 1
            var found = -1
            while (found < 0 && k >= 0 && k < n) {
              k = html.indexOf('<', k)
              if (k < 0) found = -2
              else if (k + close.length <= n &&
                html.regionMatches(true, k, close, 0, close.length)) found = k
              else k += 1
            }
            if (found >= 0) {
              val gt = html.indexOf('>', found)
              i = if (gt < 0) n else gt + 1
            } else i = n
          } else {
            if (BlockTagSet.contains(name)) emitWs() // was "\n\n"
            val gt = html.indexOf('>', i)
            i = if (gt < 0) n else gt + 1
          }
        }
      } else if (c == '&') {
        val semi = html.indexOf(';', i + 1)
        if (semi > i && semi - i <= 12) {
          val rep = entity(html.substring(i + 1, semi))
          if (rep != null) {
            var r = 0
            while (r < rep.length) { emit(rep.charAt(r)); r += 1 }
            i = semi + 1
          } else { emit(c); i += 1 }
        } else { emit(c); i += 1 }
      } else {
        emit(c)
        i += 1
      }
    }
    sb.toString.trim
  }

  /** Fused bytes → cleaned text with the same fallback discipline as
    * `extract` (scan failure → simple strip + chained clean). This is the
    * REFERENCE form for the byte-native scanner below (parity-tested).
    */
  def extractClean(bytes: Array[Byte]): String = {
    val html = decodeUtf8Ignore(bytes)
    if (html.isEmpty) return ""
    try extractCleanStr(html)
    catch { case _: Exception => Clean.basicCleanFastStr(extractSimple(html)) }
  }

  // ====================================================================
  // BYTE-NATIVE fused extract+clean: raw UTF-8 bytes → cleaned UTF8String
  // with ZERO intermediate String/char materialization (the full round-1
  // stretch item). The cleaned output is ASCII-only by construction (C1
  // strips non-ASCII), so the scanner decodes multi-byte sequences just
  // far enough to classify the code point (Unicode-whitespace → space,
  // else dropped) and writes ASCII bytes straight into one output buffer.
  //
  // Parity with `extractClean` (the decode-then-scan reference) holds for
  // ALL inputs: valid multi-byte sequences classify identically by code
  // point (a non-BMP char resets the whitespace-run state once vs twice
  // via its surrogate pair — same output either way), and MALFORMED
  // sequences are skipped with the run-state untouched, which is exactly
  // what CharsetDecoder-IGNORE's pre-scan deletion does. Tag names stop
  // at non-BMP code points (mirroring `Character.isLetterOrDigit` on a
  // surrogate char = false) and poison the name on non-ASCII letters so
  // set lookups fail in both paths. Property-tested against the reference
  // on the corpus, an html generator with Unicode whitespace, and crafted
  // malformed byte arrays.
  // ====================================================================

  def extractCleanBytes(bytes: Array[Byte]): org.apache.spark.unsafe.types.UTF8String = {
    import org.apache.spark.unsafe.types.UTF8String
    if (bytes == null || bytes.length == 0) return UTF8String.EMPTY_UTF8
    if (!fastPathSafe(bytes)) return UTF8String.fromString(extractClean(bytes))
    try scanBytes(bytes)
    catch {
      case _: Exception =>
        UTF8String.fromString(extractClean(bytes))
    }
  }

  /** Fast-path admission check (one cheap pass, no allocation). The byte
    * scanner is exactly equal to decode-then-scan ONLY when no decoder
    * deletion can occur and no Java Unicode quirk can fire, so fall back
    * to the reference path when the input contains:
    *   - any MALFORMED UTF-8 (decoder-IGNORE deletion can merge structural
    *     tokens across deleted bytes: "<\xFFp>" decodes to "<p>", a block
    *     tag; "-\xFF->" becomes a comment terminator),
    *   - the case-fold pathologies U+0131/U+017F/U+212A (regionMatches
    *     ignoreCase folds them onto ASCII i/s/k in close-tag search),
    *   - any non-ASCII Unicode DIGIT (Integer.parseInt accepts them, so
    *     "&#٥;" is a real numeric entity to the reference).
    * Real crawl text virtually never trips these; the corpus never does.
    */
  private def fastPathSafe(b: Array[Byte]): Boolean = {
    val n = b.length
    val len = new Array[Int](1)
    var i = 0
    while (i < n) {
      if ((b(i) & 0xFF) < 0x80) i += 1
      else {
        val cp = decodeAt(b, i, len)
        if (cp < 0) return false
        if (cp == 0x131 || cp == 0x17F || cp == 0x212A) return false
        if (Character.isDigit(cp)) return false
        i += len(0)
      }
    }
    true
  }

  /** Decoded code point at i (lead byte >= 0x80), or -1 if the sequence is
    * malformed. `lenOut(0)` receives the consumed byte count (1 on
    * malformed — skipping malformed bytes one at a time is output-
    * equivalent to the decoder's maximal-subpart deletion because skips
    * leave the scanner state untouched).
    */
  private def decodeAt(b: Array[Byte], i: Int, lenOut: Array[Int]): Int = {
    val n = b.length
    val b0 = b(i) & 0xFF
    lenOut(0) = 1
    @inline def cont(k: Int): Boolean = k < n && (b(k) & 0xC0) == 0x80
    if (b0 < 0xC2 || b0 > 0xF4) return -1 // 0x80-0xC1 (cont/overlong), 0xF5+
    if (b0 <= 0xDF) { // 2-byte
      if (!cont(i + 1)) return -1
      lenOut(0) = 2
      ((b0 & 0x1F) << 6) | (b(i + 1) & 0x3F)
    } else if (b0 <= 0xEF) { // 3-byte with E0/ED second-byte limits
      if (!cont(i + 1) || !cont(i + 2)) return -1
      val b1 = b(i + 1) & 0xFF
      if (b0 == 0xE0 && b1 < 0xA0) return -1 // overlong
      if (b0 == 0xED && b1 > 0x9F) return -1 // surrogate range
      lenOut(0) = 3
      ((b0 & 0x0F) << 12) | ((b1 & 0x3F) << 6) | (b(i + 2) & 0x3F)
    } else { // 4-byte with F0/F4 second-byte limits
      if (!cont(i + 1) || !cont(i + 2) || !cont(i + 3)) return -1
      val b1 = b(i + 1) & 0xFF
      if (b0 == 0xF0 && b1 < 0x90) return -1 // overlong
      if (b0 == 0xF4 && b1 > 0x8F) return -1 // > U+10FFFF
      lenOut(0) = 4
      ((b0 & 0x07) << 18) | ((b1 & 0x3F) << 12) | ((b(i + 2) & 0x3F) << 6) |
        (b(i + 3) & 0x3F)
    }
  }

  @inline private def isWsCp(cp: Int): Boolean =
    cp <= 0xFFFF && graft.rules.TokenStats.isUnicodeWs(cp.toChar)

  private def indexOfByte(b: Array[Byte], from: Int, target: Byte): Int = {
    var k = math.max(from, 0)
    while (k < b.length) { if (b(k) == target) return k; k += 1 }
    -1
  }

  @inline private def lowerB(x: Int): Int =
    if (x >= 'A' && x <= 'Z') x + 32 else x

  private def scanBytes(html: Array[Byte]): org.apache.spark.unsafe.types.UTF8String = {
    import org.apache.spark.unsafe.types.UTF8String
    val n = html.length
    val out = new Array[Byte](n)
    var o = 0
    var prevWs = false
    val lenOut = new Array[Int](1)
    @inline def emitAscii(c: Int): Unit = {
      if (graft.rules.TokenStats.isUnicodeWs(c.toChar)) {
        if (!prevWs) { out(o) = ' '; o += 1 }
        prevWs = true
      } else { prevWs = false; out(o) = c.toByte; o += 1 }
    }
    @inline def emitWs(): Unit = {
      if (!prevWs) { out(o) = ' '; o += 1 }; prevWs = true
    }
    @inline def emitChar(c: Char): Unit =
      if (c <= 0x7F) emitAscii(c)
      else if (isWsCp(c)) emitWs()
      else prevWs = false
    var i = 0
    while (i < n) {
      val b0 = html(i) & 0xFF
      if (b0 == '<') {
        if (i + 3 < n && html(i + 1) == '!' && html(i + 2) == '-' && html(i + 3) == '-') {
          // comment: skip to "-->"
          var k = i + 4
          var end = -1
          while (end < 0 && k + 2 < n) {
            if (html(k) == '-' && html(k + 1) == '-' && html(k + 2) == '>') end = k
            else k += 1
          }
          i = if (end < 0) n else end + 3
        } else {
          var j = i + 1
          val closing = j < n && html(j) == '/'
          if (closing) j += 1
          // tag name: ASCII letters/digits lowercased; non-ASCII
          // letters/digits poison the name (no set can match) exactly
          // like the char scanner's toLowerCase'd non-ASCII name; name
          // parsing stops where Character.isLetterOrDigit stops
          val name = new java.lang.StringBuilder(8)
          var stop = false
          while (!stop && j < n) {
            val c = html(j) & 0xFF
            if (c < 0x80) {
              if (Character.isLetterOrDigit(c.toChar)) {
                name.append(lowerB(c).toChar); j += 1
              } else stop = true
            } else {
              val cp = decodeAt(html, j, lenOut)
              if (cp >= 0 && cp <= 0xFFFF && Character.isLetterOrDigit(cp.toChar)) {
                name.append('\uFFFF'); j += lenOut(0) // poison: never matches
              } else stop = true
            }
          }
          val nm = name.toString
          if (!closing && SkipTagSet.contains(nm)) {
            // skip to the matching close tag (case-insensitive), then '>'
            val close = ("</" + nm).getBytes(StandardCharsets.US_ASCII)
            var k = i + 1
            var found = -1
            while (found < 0 && k >= 0 && k < n) {
              k = indexOfByte(html, k, '<'.toByte)
              if (k < 0) found = -2
              else {
                var m = 0
                var ok = k + close.length <= n
                while (ok && m < close.length) {
                  if (lowerB(html(k + m) & 0xFF) != lowerB(close(m) & 0xFF)) ok = false
                  m += 1
                }
                if (ok) found = k else k += 1
              }
            }
            if (found >= 0) {
              val gt = indexOfByte(html, found, '>'.toByte)
              i = if (gt < 0) n else gt + 1
            } else i = n
          } else {
            if (BlockTagSet.contains(nm)) emitWs() // was "\n\n"
            val gt = indexOfByte(html, i, '>'.toByte)
            i = if (gt < 0) n else gt + 1
          }
        }
      } else if (b0 == '&') {
        // entity name with DELETION semantics: malformed bytes inside the
        // name are dropped exactly like decoder-IGNORE's pre-scan deletion
        // (they can merge "am\x90p" into "amp"); valid non-ASCII chars
        // poison the name so lookups fail in both paths; the 12-char
        // window counts post-deletion CHARS (4-byte chars count 2, their
        // surrogate pair width in the reference string)
        var semi = -1
        var k = i + 1
        var over = false
        val nameSb = new java.lang.StringBuilder(12)
        while (semi < 0 && !over && k < n) {
          val c = html(k) & 0xFF
          if (c == ';') semi = k
          else if (c < 0x80) { nameSb.append(c.toChar); k += 1 }
          else {
            val cp = decodeAt(html, k, lenOut)
            if (cp >= 0) {
              nameSb.append(if (cp > 0xFFFF) "\uFFFF\uFFFF" else "\uFFFF")
              k += lenOut(0)
            } else k += 1 // malformed: deleted
          }
          if (nameSb.length > 11) over = true // '&'+name+';' would exceed 12
        }
        if (semi > i && !over) {
          val rep = entity(nameSb.toString)
          if (rep != null) {
            var r = 0
            while (r < rep.length) { emitChar(rep.charAt(r)); r += 1 }
            i = semi + 1
          } else { emitAscii('&'); i += 1 }
        } else { emitAscii('&'); i += 1 }
      } else if (b0 < 0x80) {
        emitAscii(b0)
        i += 1
      } else {
        val cp = decodeAt(html, i, lenOut)
        if (cp >= 0) {
          if (isWsCp(cp)) emitWs()
          else prevWs = false // valid non-ASCII char: dropped, breaks ws run
        } // malformed: skipped, state untouched (decoder-IGNORE deletion)
        i += lenOut(0)
      }
    }
    // trim <= 0x20 at both ends (Java String.trim semantics)
    var a = 0
    var b = o
    while (a < b && (out(a) & 0xFF) <= 0x20) a += 1
    while (b > a && (out(b - 1) & 0xFF) <= 0x20) b -= 1
    UTF8String.fromBytes(out, a, b - a)
  }

  /** Column form. A deterministic Scala UDF — the extraction is genuinely
    * imperative (fallback chain + stateful entity decode), one of the two
    * sanctioned non-expression points (SURVEY.md §7.3).
    */
  private val extractUdf = udf((b: Array[Byte]) => extract(b))

  def extractCol(c: Column): Column = extractUdf(c)

  /** E1 + C1 fused: html bytes → extracted, basic-cleaned text in one
    * byte-level scan (`extractCleanBytes`) — no UTF-8 decode to String, no
    * intermediate extraction string, no separate clean pass. Equality with
    * the decode-then-scan and fully chained forms is property-tested.
    */
  def extractCleanCol(html: Column): Column =
    graft.functions.Native(this, "extractCleanBytes",
      org.apache.spark.sql.types.StringType, html)
}
