package graft.derive

import java.util.regex.Pattern

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Helpers shared by the derive builders: Column forms for the batteries
  * and gates, and the JVM mirrors the fused kernels use.
  */
private[derive] object DeriveHelpers {

  def containsAny(c: Column, terms: Seq[String]): Column =
    terms.map(t => c.contains(t)).reduce(_ || _)

  /** Every match of `pattern` (its `group`) — empty, not null, on null. */
  def hits(c: Column, pattern: String, group: Int): Column =
    when(c.isNull, array().cast("array<string>"))
      .otherwise(regexp_extract_all(c, lit(pattern), lit(group)))

  /** Spark `trim` semantics: strips ' ' only (NOT Java String.trim). */
  @inline def spaceTrim(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  /** JVM mirror of `hits`: group `g` of every match, "" for a
    * non-participating group, empty on null.
    */
  def groupHits(p: Pattern, s: String, g: Int): Array[String] = {
    if (s == null) return Array.empty
    val out = ArrayBuffer.empty[String]
    val m = p.matcher(s)
    while (m.find()) {
      val x = m.group(g)
      out += (if (x == null) "" else x)
    }
    out.toArray
  }

  /** A Catalyst string as a Java one, null kept. */
  @inline def str(u: UTF8String): String = if (u == null) null else u.toString

  /** A Catalyst string array. */
  def arr(a: Array[String]): GenericArrayData =
    new GenericArrayData(a.map(x => UTF8String.fromString(x).asInstanceOf[Any]))
}
