package graft.dedup

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused single-pass SimHash (the 64-bit near-dup signature of
  * Dedup.simhashHof).
  *
  * The pure-Catalyst form is an `aggregate`/`zip_with` doing 64 interpreted
  * lambda evaluations PER TOKEN with boxing — the exact interpreted-HOF
  * shape measured at ~100x native cost elsewhere in this repo (round-1
  * verdict; cf. the TokenStats / BlockExtract history). This
  * computes the identical signature in one forward scan: tokenize on
  * ASCII-\s runs of the lowercased text (Java regex `\s` — matching
  * `split(lower(text), "\\s+")` exactly), hash each token with Spark's own
  * xxhash64 (XxHash64Function, seed 42 — bit-identical to the `xxhash64`
  * SQL function the HOF form calls), accumulate 64 signed bit votes,
  * sign-pack. Equality vs the HOF form is property-tested in DedupSpec.
  */
object SimHash {

  @inline private def isJavaRegexWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 11.toChar /* U+000B vertical tab */ || c == '\f' || c == '\r'

  /** Signature of the already-lowercased string (empty/blank → 0L). */
  def compute(s: String): Long = {
    val votes = new Array[Int](64)
    val n = s.length
    var i = 0
    var start = -1
    while (i <= n) {
      if (i == n || isJavaRegexWs(s.charAt(i))) {
        if (start >= 0) {
          val h = XxHash64Function.hash(
            UTF8String.fromString(s.substring(start, i)), StringType, 42L)
          var b = 0
          while (b < 64) {
            votes(b) += (((h >>> b) & 1L).toInt << 1) - 1 // +1 if bit set else -1
            b += 1
          }
          start = -1
        }
      } else if (start < 0) start = i
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** Codegen entry: lowercases via UTF8String (identical to `lower()`). */
  def computeLong(u: UTF8String): Long = compute(u.toLowerCase.toString)
}

/** Fused single-pass MinHash signature (the array<long> of
  * Dedup.minhashSignatureHof).
  *
  * The pure-Catalyst form is `aggregate(sh, init, zip_with(acc,
  * transform(sequence, i => xxhash64(i, s)), least))` — k interpreted
  * lambda evaluations with boxing PER SHINGLE (k=32 → ~10⁸ lambda evals
  * on a 20k-doc corpus; the same interpreted-HOF shape SimHash
  * replaced). This computes the identical signature in one scan: lane
  * seeds are `xxhash64`'s running-hash after the lane index
  * (XxHash64Function.hash(i, IntegerType, 42) — exactly how the
  * two-argument `xxhash64(i, s)` chains), then every shingle hashes once
  * per lane with the precomputed seed and min-reduces. Bit-identical to
  * the HOF form including the empty-array (all Long.MaxValue) and
  * null-element (hash = lane seed, Spark's null-skipping hash semantics)
  * cases — DedupSpec parity-tests all three.
  *
  * CodegenFallback: the per-row cost is the k×|sh| hashing itself; the
  * call is usually inside a ComputeOnce Generate where interp overhead
  * is per-row, not per-hash.
  */
case class MinHashSigExpr(child: Expression, k: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  require(k > 0, s"k must be positive, got $k")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)

  // element type dispatch: array<string> shingles hash as UTF8String
  // (the q21 bit-pinned surface); array<long> digest shingles (the
  // hashedShingles pair-path representation) hash as longs — each lane
  // is the exact xxhash64(i, element) chain for its element type, so
  // the HOF parity form covers both (DedupSpec tests both).
  @transient private lazy val elemType: DataType =
    child.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType

  @transient private lazy val seeds: Array[Long] =
    Array.tabulate(k)(i =>
      XxHash64Function.hash(i, org.apache.spark.sql.types.IntegerType, 42L))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val out = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      val s: Any = if (arr.isNullAt(j)) null else arr.get(j, elemType)
      var i = 0
      while (i < k) {
        val h =
          if (s == null) seeds(i) // xxhash64 skips null children
          else XxHash64Function.hash(s, elemType, seeds(i))
        if (h < out(i)) out(i) = h
        i += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_minhash_sig"
}
