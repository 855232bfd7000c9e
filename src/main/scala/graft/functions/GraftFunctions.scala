package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.scrub.PiiScrub

/** C13 as a native Catalyst expression (SURVEY.md §2.3 C13: "custom
  * Catalyst Expression (codegen-friendly, compile-once-per-task)").
  *
  * The whole PII/toxicity battery in ONE expression node: one
  * UTF8String→String conversion in, one out, patterns compiled once per
  * JVM (static), and a `doGenCode` body that stays inside whole-stage
  * codegen (a single static call — no virtual dispatch, no per-row
  * pattern lookup). It runs `PiiScrub.scrubKernel`, which the parity
  * specs hold equal to the plain chain `PiiScrub.scrubStr`.
  */
case class PiiScrubExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(PiiScrub.scrubKernel(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.scrub.PiiScrub.scrubKernel($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): PiiScrubExpr =
    copy(child = newChild)

  override def prettyName: String = "pii_scrub"
}

/** C1 basic clean as a native single-pass expression — same output as the
  * regexp chain (Clean.basicClean) by the fused-scan argument documented at
  * Clean.basicCleanFastStr; parity-tested.
  */
case class BasicCleanExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      graft.extract.Clean.basicCleanFastStr(input.asInstanceOf[UTF8String].toString))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.extract.Clean.basicCleanFastStr($c.toString()))")
  override protected def withNewChildInternal(newChild: Expression): BasicCleanExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_basic_clean"
}

/** E1 + C1 fused: raw html bytes → extracted, basic-cleaned text in ONE
  * BYTE-LEVEL scan (HtmlText.extractCleanBytes) — no UTF-8 decode to
  * String, no intermediate extraction string, no separate clean pass;
  * the only allocation is the final output buffer. Replaces the UDF +
  * graft_basic_clean pair on the pipeline hot path; equality vs the
  * decode-then-scan and fully-chained forms is property-tested.
  */
case class ExtractCleanExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    graft.extract.HtmlText.extractCleanBytes(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.extract.HtmlText.extractCleanBytes($c)")
  override protected def withNewChildInternal(newChild: Expression): ExtractCleanExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_extract_clean"
}

/** M2 perplexity as a native expression over the JVM-static model (see
  * Perplexity.Shared) — identical scores to RefOracle's row-at-a-time
  * scorer by construction (same Model.score).
  */
case class PerplexityExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullSafeEval(input: Any): Any =
    graft.score.Perplexity.scoreShared(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.score.Perplexity.scoreShared($c)")
  override protected def withNewChildInternal(newChild: Expression): PerplexityExpr =
    copy(child = newChild)
  override def prettyName: String = "graft_perplexity"
}

/** Vector dot product over array<float>/array<double> columns — the
  * higher-order `aggregate(zip_with(...))` form is interpreted per element
  * with boxing; this is a tight primitive loop with identical arithmetic
  * (elementwise double product summed left-to-right, matching the DuckDB
  * oracle formula).
  */
case class DotExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    DotExpr.dot(x, y, left.dataType, right.dataType)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"""graft.functions.DotExpr.dotTyped($a, $b, $isLeftFloat, $isRightFloat)""")

  private def isLeftFloat: Boolean = elemIsFloat(left.dataType)
  private def isRightFloat: Boolean = elemIsFloat(right.dataType)
  private def elemIsFloat(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _ => false
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): DotExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_dot"
}

object DotExpr {
  import org.apache.spark.sql.catalyst.util.ArrayData

  def dot(a: ArrayData, b: ArrayData, lt: DataType, rt: DataType): Double = {
    val lf = lt match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    val rf = rt match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    dotTyped(a, b, lf, rf)
  }

  /** Identical arithmetic to aggregate(zip_with(a,b,(x,y)->xd*yd),0d,+):
    * zip_with truncates to min length; products summed left-to-right.
    */
  def dotTyped(a: ArrayData, b: ArrayData, leftFloat: Boolean,
               rightFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }
}

/** Expression-level `let`: binds a value to a lambda variable so the body
  * can reference it many times at ONE evaluation's cost.
  *
  * This is ComputeOnce's sibling for positions where a DataFrame barrier
  * can't reach — INSIDE higher-order-function lambdas. Column composition
  * duplicates the argument subtree into every use site (e.g. a
  * clean-then-validate chain referenced by 27 `contains` checks evaluates
  * its regex chain 27 times per candidate — measured 50+ s over a 400-doc
  * fixture); `transform(array(v), body)` evaluates `v` once, binds it to
  * the lambda variable, and every body reference reads the bound value.
  */
object Let {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{array, lit, transform, try_element_at}
  def apply(v: Column)(body: Column => Column): Column =
    try_element_at(transform(array(v), body), lit(1))
}

/** Materialization barrier for expensive per-row expressions.
  *
  * CollapseProject inlines an aliased expression into each downstream
  * reference, so a struct-valued native expression consumed through N
  * getField projections is recomputed N TIMES per row (observed: 56
  * copies of the v2 concept battery, 7 of the block battery in the
  * round-2 plans). Routing the value through `explode(array(expr))`
  * makes it a Generate OUTPUT ATTRIBUTE, which the optimizer cannot
  * inline — the expression runs exactly once per row. GenerateExec
  * participates in whole-stage codegen, and a 1-element explode never
  * changes the row count.
  */
object ComputeOnce {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.functions.{array, col, explode}
  def apply(df: DataFrame, name: String, c: Column): DataFrame =
    df.select(col("*"), explode(array(c)).as(name))
}

/** Registration of graft-native SQL functions on a session (the
  * SparkSessionExtensions-equivalent entry point — injectable via
  * `.withExtensions(GraftFunctions.injectAll)` on a fresh builder, or
  * registered post-hoc on an existing session).
  */
object GraftFunctions {

  /** Register on a live session, for SQL and `call_function` users (the
    * library's own paths build the expressions directly). Idempotent —
    * and quiet about it: `createOrReplaceTempFunction` on an existing
    * name logs a "replaced a previously registered function" WARN. The
    * idempotence check asks the functionRegistry whether ALL graft
    * names are present (not a session conf — a user-visible conf key
    * made register() a permanent no-op: SET/RESET silently toggled it,
    * and a graft function removed via DROP TEMPORARY FUNCTION could
    * never be restored by re-calling register()). Registering when ANY
    * name is missing keeps both contracts: a pre-existing FOREIGN temp
    * function squatting on one graft name is still replaced on the
    * first call (it can't plausibly pre-register the whole battery),
    * and a dropped graft function is restored by the next register(). A
    * foreign function installed over a graft name AFTER a full
    * registration is a deliberate user override and is left in place.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    if (Functions.forall(f => reg.functionExists(FunctionIdentifier(f._1)))) return
    Functions.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** The graft-native SQL functions, as (name, expression class,
    * builder) — what `register` and `injectAll` install.
    */
  private val Functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("pii_scrub", classOf[PiiScrubExpr], e => PiiScrubExpr(e.head)),
    ("graft_token_stats", classOf[graft.rules.TokenStatsExpr],
      e => graft.rules.TokenStatsExpr(e.head)),
    ("graft_pattern_counts", classOf[graft.rules.PatternCountsExpr],
      e => graft.rules.PatternCountsExpr(e.head)),
    ("graft_basic_clean", classOf[BasicCleanExpr], e => BasicCleanExpr(e.head)),
    ("graft_perplexity", classOf[PerplexityExpr], e => PerplexityExpr(e.head)),
    ("graft_simhash", classOf[graft.dedup.SimHashExpr],
      e => graft.dedup.SimHashExpr(e.head)),
    ("graft_extract_clean", classOf[ExtractCleanExpr], e => ExtractCleanExpr(e.head)))

  /** SparkSessionExtensions injection point (for spark-submit via
    * spark.sql.extensions=graft.functions.GraftExtensions) — registers
    * the same native-expression surface as `register`.
    */
  def injectAll(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    Functions.foreach { case (name, clazz, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          clazz.getName, name),
        builder))
    }
}

/** `spark.sql.extensions` entry class. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.injectAll(ext)
}
