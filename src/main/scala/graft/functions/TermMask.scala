package graft.functions

import java.util.Locale

import org.apache.spark.sql.catalyst.util.CollationSupport
import org.apache.spark.unsafe.types.UTF8String

/** One-pass case-folding term scanner: bit i of `mask(s, n)` is set iff
  * `lower(substring(s, 1, n))` contains `terms(i)` — Spark's own `lower`
  * (ICU) over the first `n` code points, then `contains`.
  *
  * The fast path scans the UTF-8 bytes once and never builds a lowered
  * copy: an Aho-Corasick DFA over ASCII bytes, with failure links merged
  * into the transition table and A-Z mapped to a-z in it, so each byte is
  * one table lookup and one OR. It counts code points as Spark's
  * `substringSQL` does (one per ASCII byte, one per multi-byte sequence)
  * and stops at `n`, or once every term is found.
  *
  * It is exact for ASCII terms on arbitrary UTF-8: a non-ASCII code
  * point's bytes all have bit 7 set, so they never equal a term byte, and
  * its lowercase stays non-ASCII except for the code points in
  * [[TermScanner.LowersToAscii]] (U+0130 → "i̇", U+212A → "k"). The scan
  * skips every other non-ASCII sequence after checking its continuation
  * bytes and restarts the automaton behind it. It falls back to the
  * Column form's own calls — `CollationSupport.Lower.execBinaryICU` of
  * `substringSQL(1, n)`, then `contains` per term — on one of those code
  * points, a surrogate, malformed UTF-8, a non-ASCII term, or a default
  * locale whose ICU case rules are not the root rules (tr, az, lt).
  *
  * Terms are capped at 63, so a mask is never negative and -1 can mean
  * "fall back". A duplicate term gets its own bit.
  */
final case class TermScanner(terms: Seq[String]) {

  require(terms.nonEmpty && terms.length <= 63,
    s"1..63 terms required, got ${terms.length}")
  require(terms.forall(t => t.nonEmpty && t == t.toLowerCase(Locale.ROOT)),
    "terms must be non-empty lowercase")

  @transient private lazy val termUtf8: Array[UTF8String] =
    terms.map(UTF8String.fromString).toArray

  @transient private lazy val asciiTerms: Boolean = terms.forall(_.forall(_ < 0x80))

  private val allMask: Long = (1L << terms.length) - 1

  /** The DFA as (`next(state * 128 + byte)`, `out(state)`): `out` is the
    * bitmask of the terms ending at that state, suffix links included.
    * About sum(term length) states × 128 ints, built once per deserialized
    * scanner.
    */
  @transient private lazy val automaton: (Array[Int], Array[Long]) = {
    val trans = scala.collection.mutable.ArrayBuffer(Array.fill(128)(-1))
    val out = scala.collection.mutable.ArrayBuffer(0L)
    terms.zipWithIndex.foreach { case (t, ti) =>
      var s = 0
      t.foreach { ch =>
        val c = ch & 0x7f
        if (trans(s)(c) == -1) {
          trans += Array.fill(128)(-1)
          out += 0L
          trans(s)(c) = trans.length - 1
        }
        s = trans(s)(c)
      }
      out(s) |= 1L << ti
    }
    val fail = new Array[Int](trans.length)
    val queue = scala.collection.mutable.Queue.empty[Int]
    var c = 0
    while (c < 128) {
      val t = trans(0)(c)
      if (t == -1) trans(0)(c) = 0
      else { fail(t) = 0; queue += t }
      c += 1
    }
    while (queue.nonEmpty) {
      val s = queue.dequeue()
      out(s) |= out(fail(s))
      var c2 = 0
      while (c2 < 128) {
        val t = trans(s)(c2)
        if (t == -1) trans(s)(c2) = trans(fail(s))(c2)
        else { fail(t) = trans(fail(s))(c2); queue += t }
        c2 += 1
      }
    }
    val flat = new Array[Int](trans.length * 128)
    var s = 0
    while (s < trans.length) {
      // terms are lowercase, so an upper-case byte moves as its lower case
      var u = 'A'.toInt
      while (u <= 'Z') { trans(s)(u) = trans(s)(u + 32); u += 1 }
      System.arraycopy(trans(s), 0, flat, s * 128, 128)
      s += 1
    }
    (flat, out.toArray)
  }

  /** The mask over the first `n` code points of `s` (non-null). */
  def mask(s: UTF8String, n: Int): Long = {
    val fast = fastMask(s, n)
    if (fast >= 0) fast else exactMask(s, n)
  }

  /** One pass over the bytes; -1 means "take the exact fallback". */
  private[graft] def fastMask(s: UTF8String, n: Int): Long = {
    if (!asciiTerms || !TermScanner.rootCaseRules) return -1L
    val (next, out) = automaton
    val numBytes = s.numBytes()
    var mask = 0L
    var state = 0
    var i = 0
    var cps = 0
    while (i < numBytes && cps < n && mask != allMask) {
      val b = s.getByte(i)
      if (b >= 0) {
        state = next(state * 128 + b)
        mask |= out(state)
        i += 1
      } else {
        // A non-ASCII sequence: no ASCII term can match inside it. Its
        // continuation bytes are checked (an ASCII byte where one belongs
        // would be read differently by the decoder), and its code point
        // must not be one whose lowercase holds ASCII.
        val lead = b & 0xff
        val len =
          if (lead >= 0xc2 && lead <= 0xdf) 2
          else if (lead >= 0xe0 && lead <= 0xef) 3
          else if (lead >= 0xf0 && lead <= 0xf4) 4
          else return -1L // stray continuation or invalid lead
        if (i + len > numBytes) return -1L // truncated
        var cp = lead & (0xff >> (len + 1))
        var k = 1
        while (k < len) {
          val bk = s.getByte(i + k)
          if ((bk & 0xc0) != 0x80) return -1L
          cp = (cp << 6) | (bk & 0x3f)
          k += 1
        }
        if (TermScanner.Dangerous.get(cp)) return -1L
        i += len
        state = 0
      }
      cps += 1
    }
    mask
  }

  /** What the Column form compiles to: ICU `lower` of the `n`-code-point
    * prefix, then one `contains` per term.
    */
  private def exactMask(s: UTF8String, n: Int): Long = {
    val sample = if (n == Int.MaxValue) s else s.substringSQL(1, n)
    val lowered = CollationSupport.Lower.execBinaryICU(sample)
    var mask = 0L
    var i = 0
    while (i < termUtf8.length) {
      if (lowered.contains(termUtf8(i))) mask |= 1L << i
      i += 1
    }
    mask
  }

  override def toString: String = terms.mkString("TermScanner(", ",", ")")
}

object TermScanner {

  /** Code points ≥ U+0080 whose ICU lowercase (`UCharacter.toLowerCase`,
    * which Spark's `lower` runs on non-ASCII strings) contains an ASCII
    * char under the root case rules. A table, not a per-JVM enumeration:
    * enumerating 1.1 M code points through ICU costs 100–300 ms on first
    * use. TermMaskSpec enumerates them against the ICU on the classpath
    * and fails if this table is out of date.
    */
  val LowersToAscii: Seq[Int] = Seq(0x130, 0x212a)

  /** [[LowersToAscii]] and the surrogates, whose UTF-8 forms are
    * malformed: the scan falls back on any of them.
    */
  private val Dangerous: java.util.BitSet = {
    val d = new java.util.BitSet(0xe000)
    LowersToAscii.foreach(d.set)
    d.set(0xd800, 0xe000)
    d
  }

  /** The default locale when this object loaded. ICU's `lower` reads
    * `Locale.getDefault()` on every call, and tailors case rules for
    * Turkish and Azeri ('I' → 'ı', so even the ASCII fold is wrong) and
    * Lithuanian (Ì → "i̇̀"). The fast path runs only while the default is
    * still this instance and its language has root case rules; a
    * different instance with the same value costs the fast path, never
    * correctness.
    */
  private val locale: Locale = Locale.getDefault

  private val TailoredLanguages = Set("tr", "tur", "az", "aze", "lt", "lit")

  private val localeRootRules: Boolean = !TailoredLanguages(locale.getLanguage)

  private def rootCaseRules: Boolean = (Locale.getDefault eq locale) && localeRootRules
}

/** The term-mask kernel, called through [[Native]]: the mask of
  * `scanner`'s terms in `lower(text[:n])`, 0 for null text (each
  * `when(sample.contains(t), 1).otherwise(0)` is 0 on a null sample).
  */
object TermMask {
  def scan(text: UTF8String, n: Int, scanner: TermScanner): Long =
    if (text == null) 0L else scanner.mask(text, n)
}
