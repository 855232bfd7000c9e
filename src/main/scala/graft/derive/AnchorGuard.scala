package graft.derive

/** Necessary-literal anchor guard for the per-candidate regex batteries
  * inside the fused builder expressions (round-3 verdict item 4; the
  * Column-level batteries test a whole-text `TermSample` mask for the
  * same purpose).
  *
  * Each guarded pattern's prefix alternation yields a NECESSARY literal
  * set: if no literal of every group is present in the candidate, the
  * regex cannot match and the scan is skipped. Profiled on the UG
  * chain's own gated population (NOTES.md, round 4): two of the six step
  * patterns' literals occur in 0% of candidate blocks — they always
  * scanned, never matched; guarding cut metaRow ~30% (608 → 423
  * µs/block).
  *
  * Case folding is ASCII-ONLY because the guarded patterns fold with
  * bare `(?i)` (no UNICODE_CASE): `sparkLower` here would be WRONG
  * under tr/az default locales, where "FIRST".toLowerCase becomes
  * "fırst" and the guard would skip a regex that does match.
  */
private[graft] object AnchorGuard {

  @inline def asciiLower(s: String): String = {
    if (s == null) return ""
    val a = s.toCharArray
    var i = 0
    while (i < a.length) {
      val ch = a(i)
      if (ch >= 'A' && ch <= 'Z') a(i) = (ch + 32).toChar
      i += 1
    }
    new String(a)
  }

  /** Conjunction of disjunctions over an ascii-folded candidate. */
  def anchored(lo: String, groups: Array[Array[String]]): Boolean = {
    var i = 0
    while (i < groups.length) {
      val g = groups(i)
      var j = 0
      var hit = false
      while (!hit && j < g.length) {
        if (lo.contains(g(j))) hit = true
        j += 1
      }
      if (!hit) return false
      i += 1
    }
    true
  }
}
