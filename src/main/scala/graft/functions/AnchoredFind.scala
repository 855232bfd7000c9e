package graft.functions

import java.util.regex.Matcher

/** `Matcher.find` for a pattern tried only where a match can start.
  *
  * A `find` tries the pattern at every position in turn, which for most of
  * the graft regex batteries is almost all of the cost: their matches can
  * only start at a rare char ('$', '\', a digit, a toxic term). `find`
  * here runs the same attempts, but only at the positions `canStart`
  * accepts, so it equals `m.find(from)` whenever every match start of the
  * pattern satisfies `canStart`.
  *
  * Each attempt is `lookingAt` on the region from i with transparent
  * bounds, so boundaries and lookaround see the chars before i exactly as
  * `find`'s attempt at i does; anchoring bounds are off, so `^`/`$` do not
  * match at a region edge. A caller resuming at `m.end()` needs every
  * match to be non-empty.
  */
object AnchoredFind {

  def find(m: Matcher, s: String, from: Int, canStart: Int => Boolean): Boolean = {
    m.useTransparentBounds(true).useAnchoringBounds(false)
    val n = s.length
    var i = from
    while (i < n) {
      if (canStart(i) && m.region(i, n).lookingAt()) return true
      i += 1
    }
    false
  }
}
