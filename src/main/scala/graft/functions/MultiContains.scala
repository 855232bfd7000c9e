package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass multi-literal containment mask: bit i of the result is set
  * iff `lower(text)` contains `terms(i)`.
  *
  * The builder anchor guards are conjunctions of `lower(text).contains`
  * checks — 30-50 per battery family. Each Column `contains` is a
  * separate full-text scan (the worst case, a term that is ABSENT, scans
  * the entire document), so anchor-free web text paid ~n×terms byte
  * scans per row even with the batteries themselves skipped. This
  * expression folds all terms into ONE pass over the bytes: an
  * Aho-Corasick DFA over case-folded ASCII bytes (failure links merged
  * into the transition table at build time → one table lookup + one OR
  * per byte, no fail-chasing, no per-candidate re-scans). The scan also
  * exits early once every term has been found (anchor-RICH text exits
  * fastest).
  *
  * Case semantics must equal `Lower(text)` + `Contains`. Spark 4's
  * `UTF8String.toLowerCase` byte-folds A-Z when the string is full
  * ASCII and otherwise delegates to default-locale
  * `String.toLowerCase()` (verified against the spark-unsafe 4.1.2
  * bytecode: `toLowerCaseSlow` = `fromString(toString().toLowerCase())`).
  * For pure-ASCII *terms* the fast path is exact on arbitrary UTF-8
  * text, not just ASCII text, because a non-ASCII code point's UTF-8
  * bytes all have the high bit set — they can never equal an ASCII term
  * byte — and its default-locale lowercase stays non-ASCII except for a
  * small enumerable set of code points (U+0130 İ → "i̇", U+212A K → "k",
  * …). `SafetySet.lowersToAscii` enumerates that set once per
  * JVM against the *running* JVM's `String.toLowerCase()`, so the set is
  * consistent with Spark's slow path by construction. The scanner skips
  * whole non-ASCII sequences, bailing to the exact
  * `toLowerCase`+`contains` fallback only for (a) a dangerous code
  * point, (b) malformed/overlong UTF-8, or (c) a tr/az default locale,
  * where `String.toLowerCase()` maps even ASCII 'I' to 'ı' and the
  * ASCII fold itself would diverge on mixed text
  * (`SafetySet.asciiFoldUnsafe`). Terms with non-ASCII bytes
  * route every row through the fallback. MultiContainsSpec
  * property-tests parity on random Unicode including the dangerous set.
  * Terms are capped at 63 so the mask fits a Long with a sentinel-free
  * "all found" compare.
  *
  * CodegenFallback is deliberate: the guards live inside higher-order
  * function lambdas, which Spark always evaluates interpreted — a
  * doGenCode body would never run there.
  */
case class MultiContainsMaskExpr(child: Expression, terms: Seq[String])
    extends UnaryExpression with CodegenFallback {

  require(terms.nonEmpty && terms.length <= 63,
    s"1..63 terms required, got ${terms.length}")
  require(terms.forall(t => t.nonEmpty && t == t.toLowerCase(java.util.Locale.ROOT)),
    "terms must be non-empty lowercase")

  override def dataType: DataType = LongType

  @transient private lazy val termBytes: Array[Array[Byte]] =
    terms.map(_.getBytes("UTF-8")).toArray

  @transient private lazy val asciiTerms: Boolean =
    termBytes.forall(_.forall(b => (b & 0x80) == 0))

  /** Aho-Corasick DFA over folded ASCII bytes: `acNext(state*128 + b)`
    * is the goto-with-failure transition (failure links merged at build
    * time, so scanning is ONE table lookup per byte, no fail-chasing),
    * `acOut(state)` the bitmask of terms ending at the state including
    * via suffix links. Replaces the first-byte-dispatch + bounded-memcmp
    * scanner: that was O(candidates × termLen) at clustered first bytes
    * (t: "the"/"therefore"/"thus"...), the DFA is O(1) per byte.
    * Built once per (deserialized) expression instance; ~sum(termLen)
    * states × 128 ints is a few hundred KB for the builder anchor sets.
    */
  @transient private lazy val acAutomaton: (Array[Int], Array[Long]) = {
    val trans = scala.collection.mutable.ArrayBuffer(Array.fill(128)(-1))
    val out = scala.collection.mutable.ArrayBuffer(0L)
    termBytes.zipWithIndex.foreach { case (tb, ti) =>
      var s = 0
      tb.foreach { b =>
        val c = b & 0x7f
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
      System.arraycopy(trans(s), 0, flat, s * 128, 128)
      s += 1
    }
    (flat, out.toArray)
  }

  private def fold(b: Byte): Byte =
    if (b >= 'A' && b <= 'Z') (b + 32).toByte else b

  private val allMask: Long = (1L << terms.length) - 1

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val fast = fastScan(s)
    if (fast == null) slowEval(s) else fast.longValue()
  }

  /** One-pass scan; null means "bail to the exact fallback". Package-
    * visible so the spec can assert the fast path actually fires on
    * mixed-UTF-8 documents (the at-scale case: real web text).
    */
  private[graft] def fastScan(s: UTF8String): java.lang.Long = {
    val safety = MultiContainsMask.safety
    // `ne` guard: the safety tables are only valid for the default
    // Locale they were enumerated under — Spark's slow lowercase reads
    // Locale.getDefault() per call, so a post-enumeration setDefault
    // must force the exact fallback (see SafetySet).
    if (!asciiTerms || safety.asciiFoldUnsafe ||
        (java.util.Locale.getDefault ne safety.locale)) return null
    val (acNext, acOut) = acAutomaton
    val n = s.numBytes()
    var mask = 0L
    var state = 0
    var i = 0
    while (i < n && mask != allMask) {
      val b = s.getByte(i)
      if ((b & 0x80) != 0) {
        // Non-ASCII sequence: skip it whole — no ASCII term can start
        // inside it (all bytes have bit 7 set). Continuations are still
        // validated (a malformed sequence must take the exact fallback:
        // an ASCII byte where a continuation belongs may participate in
        // a match after the decoder's U+FFFD replacement), but the code
        // point is DECODED only when the lead byte can start one of the
        // lowercase-introduces-ASCII code points (leadDanger — e.g.
        // 0xC4 for U+0130, 0xE2 for U+212A); for the overwhelmingly
        // common safe leads (0xC3 Latin-1, 0xE4-0xE9 CJK, 0xD0 Cyrillic,
        // …) validation alone suffices: whatever a valid-continuation
        // sequence decodes to (including overlong/out-of-range →
        // U+FFFD), its lowercase stays non-ASCII.
        val lead = b & 0xff
        var len = 0
        if (lead >= 0xc2 && lead <= 0xdf) len = 2
        else if (lead >= 0xe0 && lead <= 0xef) len = 3
        else if (lead >= 0xf0 && lead <= 0xf4) len = 4
        else return null // malformed (stray continuation / overlong lead)
        if (i + len > n) return null // truncated
        if (safety.leadDanger(lead)) {
          var cp = lead & (if (len == 2) 0x1f else if (len == 3) 0x0f else 0x07)
          var k = 1
          while (k < len) {
            val bk = s.getByte(i + k)
            if ((bk & 0xc0) != 0x80) return null // malformed
            cp = (cp << 6) | (bk & 0x3f)
            k += 1
          }
          // overlong/out-of-range decodes as U+FFFD garbage — bail
          if (len == 3 && cp < 0x800) return null
          if (len == 4 && (cp < 0x10000 || cp > 0x10ffff)) return null
          if (safety.lowersToAscii.get(cp)) return null
        } else {
          var k = 1
          while (k < len) {
            if ((s.getByte(i + k) & 0xc0) != 0x80) return null // malformed
            k += 1
          }
        }
        i += len
        // an ASCII term cannot span the (non-ASCII) lowered output of
        // this sequence, so the automaton restarts after it
        state = 0
      } else {
        state = acNext(state * 128 + (fold(b) & 0x7f))
        mask |= acOut(state)
        i += 1
      }
    }
    java.lang.Long.valueOf(mask)
  }

  private def slowEval(s: UTF8String): Long = {
    val lowered = s.toLowerCase
    var mask = 0L
    var i = 0
    while (i < termBytes.length) {
      if (lowered.contains(UTF8String.fromBytes(termBytes(i)))) mask |= 1L << i
      i += 1
    }
    mask
  }

  override protected def withNewChildInternal(newChild: Expression): MultiContainsMaskExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_multi_contains_mask"
}

object MultiContainsMask {

  /** The safety tables below are enumerated against the DEFAULT LOCALE —
    * the one `UTF8String.toLowerCaseSlow` reads on every call. They are
    * computed once per JVM, but Spark re-reads `Locale.getDefault()`
    * per row, so a `Locale.setDefault` AFTER enumeration (e.g. to tr)
    * would let the fast path keep firing with a stale safety set and
    * silently diverge from lower()+contains. `SafetySet` therefore
    * captures the Locale INSTANCE it was enumerated under; `fastScan`
    * recomputes nothing — it just reference-compares
    * `Locale.getDefault()` against the captured instance (one `ne` per
    * row) and bails to the exact fallback on any mismatch. A same-value
    * but different-instance default costs only the fast path, never
    * correctness.
    */
  private[functions] final class SafetySet {
    val locale: java.util.Locale = java.util.Locale.getDefault()

    /** Code points ≥ U+0080 whose default-locale `String.toLowerCase()`
      * — the exact function behind `UTF8String.toLowerCaseSlow` —
      * produces any ASCII char (U+0130 İ → "i̇", U+212A K → "k", …).
      * Enumerated once per JVM against the running JVM/locale so it can
      * never drift from Spark's behavior. Surrogate code points are
      * marked dangerous: they only arise from malformed UTF-8, which
      * must take the exact fallback. The conditional special-casing
      * rules (final sigma) map within the non-ASCII plane, so
      * per-code-point enumeration is sufficient — and the
      * MultiContainsSpec parity property checks this empirically.
      */
    val lowersToAscii: java.util.BitSet = computeLowersToAscii()

    /** leadDanger(b) = some code point in `lowersToAscii` has UTF-8
      * lead byte b. A safe lead's sequence is skipped after
      * continuation validation alone — no decode, no BitSet probe.
      * Surrogate code points are in the set, so lead 0xED is flagged
      * and surrogate encodings (malformed UTF-8) still take the exact
      * fallback.
      */
    val leadDanger: Array[Boolean] = {
      val d = new Array[Boolean](256)
      var cp = 0x80
      while (cp < 0x110000) {
        if (lowersToAscii.get(cp)) {
          val lead =
            if (cp < 0x800) 0xc0 | (cp >> 6)
            else if (cp < 0x10000) 0xe0 | (cp >> 12)
            else 0xf0 | (cp >> 18)
          d(lead) = true
        }
        cp += 1
      }
      d
    }

    /** In tr/az default locales `String.toLowerCase()` maps ASCII 'I'
      * to 'ı' — so on any non-full-ASCII string (Spark's slow path)
      * even the ASCII fold diverges. Detect once; the fast path then
      * refuses non-ASCII documents entirely (pure-ASCII ones still
      * byte-fold, which Spark does locale-independently).
      */
    val asciiFoldUnsafe: Boolean = "Ié".toLowerCase().charAt(0) != 'i'
  }

  private[functions] lazy val safety: SafetySet = new SafetySet

  private def computeLowersToAscii(): java.util.BitSet = {
    val bs = new java.util.BitSet(0x110000)
    var cp = 0x80
    while (cp < 0x110000) {
      if (cp >= 0xd800 && cp <= 0xdfff) {
        bs.set(cp)
      } else {
        val lo = new String(Character.toChars(cp)).toLowerCase()
        var i = 0
        var danger = false
        while (!danger && i < lo.length) {
          if (lo.charAt(i) < 0x80) danger = true
          i += 1
        }
        if (danger) bs.set(cp)
      }
      cp += 1
    }
    bs
  }

  /** Column form: a Long whose bit i says `lower(text) contains terms(i)`. */
  def apply(text: Column, terms: Seq[String]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      MultiContainsMaskExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(text), terms))

  /** The bit test for one anchor GROUP (any-of): (mask & groupBits) != 0. */
  def anyOf(mask: Column, terms: Seq[String], group: Seq[String]): Column = {
    import org.apache.spark.sql.functions.lit
    val bits = group.map { t =>
      val i = terms.indexOf(t)
      require(i >= 0, s"group term '$t' missing from mask terms")
      1L << i
    }.reduce(_ | _)
    mask.bitwiseAND(lit(bits)) =!= 0L
  }

  /** The full anchor guard: every group has at least one present term. */
  def allGroups(mask: Column, terms: Seq[String],
                anchors: Seq[Seq[String]]): Column =
    anchors.map(g => anyOf(mask, terms, g)).reduce(_ && _)
}
