package graft.dedup

import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Fused single-pass HASHED word-n-gram shingles — the pair-generation
  * representation of `Dedup.shingles`.
  *
  * Mirror contract (DedupSpec parity test, bit-identical):
  *
  *   Dedup.hashedShingles(text, n) ≡ transform(Dedup.shingles(text, n),
  *                                              s => xxhash64(s))
  *
  * Why it exists (round-6 measurement): the Column form builds every
  * shingle STRING through interpreted higher-order lambdas — `transform`
  * over a `sequence` with n `element_at` calls and a `concat_ws` per
  * position, then `array_distinct` on strings — measured at ~0.6 ms/doc
  * on 300-char docs (~2.9 s for the sf0.1 corpus, the single largest
  * term in the q52 chain). Candidate generation and verification only
  * ever need shingle EQUALITY (join keys, set intersections), never the
  * shingle text, so the pair paths can run entirely on the 64-bit
  * xxhash64 digests: one scan here computes them directly — trim,
  * UTF8String lowercase, byte-level Java-regex-`\s+` split (ASCII ws
  * bytes never occur inside UTF-8 multibyte sequences, so the byte scan
  * is exact), shingle bytes assembled in a reusable buffer and hashed
  * with Spark's own XxHash64 (seed 42 — exactly what `xxhash64(s)`
  * computes), first-occurrence-distinct by digest.
  *
  * Split-semantics fidelity (Java `split("\\s+", -1)`): a leading
  * whitespace run yields a leading EMPTY token and a trailing run a
  * trailing empty token (only U+0020 is trimmed, so tabs/newlines at the
  * edges survive trim); both participate in shingles via `concat_ws`
  * exactly as in the Column form. Shingle-string equality ⟺ token-tuple
  * equality (tokens contain no `\s`, so the " "-join is injective), and
  * the paths that consume this representation tolerate the ~2⁻⁶⁴
  * digest-collision probability by design (same adjudication as the
  * hashed-shingle LSH verification, round 5): a collision can only
  * merge two shingles or equate two postings — pair-level effect ~1e-14
  * at realistic shingle counts.
  *
  * The STRING form (`Dedup.shingles`) remains the q21 signature surface
  * (MinHash lane hashing is seeded per lane over the shingle text — a
  * different, bit-pinned contract) and the DuckDB-oracle reference shape.
  */
object HashedShingles {

  private val EmptyArr = new GenericArrayData(Array.emptyLongArray)

  @inline private def isJavaRegexWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 11.toByte /* U+000B */ ||
      b == '\f' || b == '\r'

  /** Distinct xxhash64 digests of the word n-gram shingles (null-safe
    * callers only; empty/blank text → empty array, mirroring the Column
    * form's `when` guard).
    */
  def compute(u: UTF8String, n: Int): ArrayData = {
    val trimmed = u.trim() // Spark trim: U+0020 only
    if (trimmed.numChars() == 0) return EmptyArr
    val bytes = trimmed.toLowerCase.getBytes // lower(trim(text)) bytes
    val len = bytes.length

    // token boundaries, exactly Java split("\\s+", -1): leading ws run →
    // leading "" token; trailing ws run → trailing "" token
    var nTok = 0
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    @inline def add(s: Int, e: Int): Unit = {
      if (nTok == starts.length) {
        starts = java.util.Arrays.copyOf(starts, nTok * 2)
        ends = java.util.Arrays.copyOf(ends, nTok * 2)
      }
      starts(nTok) = s; ends(nTok) = e; nTok += 1
    }
    var i = 0
    var tokStart = 0
    while (i < len) {
      if (isJavaRegexWs(bytes(i))) {
        add(tokStart, i)
        while (i < len && isJavaRegexWs(bytes(i))) i += 1
        tokStart = i
      } else i += 1
    }
    add(tokStart, len)

    val cnt = nTok - (n - 1)
    if (cnt <= 0) return EmptyArr

    // assemble each shingle's bytes (tokens joined by ' ') in a reusable
    // buffer and hash with Spark's XxHash64, seed 42 ≡ xxhash64(s)
    val buf = new Array[Byte](len + n) // consecutive tokens + separators
    val seen = new java.util.LinkedHashSet[java.lang.Long](cnt * 2)
    var p = 0
    while (p < cnt) {
      var w = 0
      var j = 0
      while (j < n) {
        if (j > 0) { buf(w) = ' '; w += 1 }
        val s = starts(p + j); val e = ends(p + j)
        System.arraycopy(bytes, s, buf, w, e - s)
        w += e - s
        j += 1
      }
      seen.add(XxHash64Function.hash(
        UTF8String.fromBytes(buf, 0, w), StringType, 42L))
      p += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
}
