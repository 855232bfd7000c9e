package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, InheritAnalysisRules,
  RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.types.DataType

import graft.dedup.Dedup
import graft.extract.{Clean, HtmlText}
import graft.rules.{PatternCounts, TokenStats}
import graft.score.Perplexity
import graft.scrub.PiiScrub

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
  * registered post-hoc on an existing session). Every name resolves to a
  * Spark `StaticInvoke` of its kernel, built by [[Native]].
  */
object GraftFunctions {

  /** Register on a live session, for SQL and `call_function` users (the
    * library's own paths call the Column functions directly). Idempotent —
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
    Functions.foreach { case (name, f) =>
      reg.createOrReplaceTempFunction(name, builder(name, f), "built-in")
    }
  }

  /** The graft-native SQL functions, as (name, the library's Column
    * function) — what `register` and `injectAll` install. Each name
    * builds the same [[Native]] call the library's own paths use.
    */
  private[graft] val Functions: Seq[(String, Column => Column)] = Seq(
    "pii_scrub" -> PiiScrub.scrub,
    "graft_token_stats" -> TokenStats.statsCol,
    "graft_pattern_counts" -> PatternCounts.countsCol,
    "graft_basic_clean" -> Clean.basicCleanFastCol,
    "graft_perplexity" -> Perplexity.scoreCol,
    "graft_simhash" -> Dedup.simhash,
    "graft_extract_clean" -> HtmlText.extractCleanCol)

  private def builder(name: String, f: Column => Column): Seq[Expression] => Expression = {
    args =>
      require(args.size == 1, s"$name takes one argument, got ${args.size}")
      SqlCall(name, args.head,
        GraftColumnBridge.expression(f(GraftColumnBridge.column(args.head))))
  }

  /** Names a registered call `name(arg)` in SQL text and column names; the
    * optimizer swaps it for `replacement`, the library's `StaticInvoke`.
    */
  private case class SqlCall(name: String, arg: Expression, replacement: Expression)
      extends RuntimeReplaceable with InheritAnalysisRules {
    override def prettyName: String = name
    override def parameters: Seq[Expression] = Seq(arg)
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(replacement = newChild)
  }

  /** SparkSessionExtensions injection point (for spark-submit via
    * spark.sql.extensions=graft.functions.GraftExtensions) — registers
    * the same native-expression surface as `register`.
    */
  def injectAll(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    Functions.foreach { case (name, f) =>
      ext.injectFunction((FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[StaticInvoke].getName, name),
        builder(name, f)))
    }
}

/** `spark.sql.extensions` entry class. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.injectAll(ext)
}
