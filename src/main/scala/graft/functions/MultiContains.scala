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
  * expression folds all terms into ONE pass over the bytes with the
  * gates' scanner ([[TermScanner]], over the whole text): exact against
  * `lower` + `contains`, with an exact fallback wherever the one-pass
  * fold could differ. MultiContainsSpec property-tests parity on random
  * Unicode including the dangerous set.
  *
  * CodegenFallback is deliberate: the guards live inside higher-order
  * function lambdas, which Spark always evaluates interpreted — a
  * doGenCode body would never run there.
  */
case class MultiContainsMaskExpr(child: Expression, terms: Seq[String])
    extends UnaryExpression with CodegenFallback {

  private val scanner = TermScanner(terms)

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    scanner.mask(input.asInstanceOf[UTF8String], Int.MaxValue)

  /** One-pass scan; null means "bail to the exact fallback". Package-
    * visible so the spec can assert the fast path actually fires on
    * mixed-UTF-8 documents (the at-scale case: real web text).
    */
  private[graft] def fastScan(s: UTF8String): java.lang.Long = {
    val m = scanner.fastMask(s, Int.MaxValue)
    if (m < 0) null else java.lang.Long.valueOf(m)
  }

  override protected def withNewChildInternal(newChild: Expression): MultiContainsMaskExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_multi_contains_mask"
}

object MultiContainsMask {

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
