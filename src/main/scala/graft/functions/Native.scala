package graft.functions

import java.lang.reflect.Modifier

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType, ObjectType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** A graft-native kernel call as a Column: Spark's own `StaticInvoke`
  * node, which whole-stage codegen compiles to one direct static call
  * (`graft.rules.TokenStats.computeRow(value)`) and interpreted
  * evaluation (higher-order-function lambdas) calls by reflection.
  *
  * The kernel is a public def on a top-level object (the call goes
  * through the object's static forwarder) that takes and returns
  * Catalyst values: `UTF8String`, `Array[Byte]`, `Int` in; `UTF8String`,
  * `InternalRow`, `ArrayData` or a primitive out. A kernel can also take a
  * plan-time object, passed as an [[obj]] literal: codegen reads it from
  * the stage's reference array, so per-row state such as a compiled
  * automaton is built once per task, not per row. The method is looked up
  * when the Column is built, so a misnamed kernel fails here, and its
  * parameter types become the node's input types, so the analyzer casts
  * a NULL literal (or any castable argument) to what the kernel takes.
  */
object Native {

  /** `kernel.method(args)` with null in any argument giving null out (the
    * kernel is not called); the kernel never returns null itself.
    */
  def apply(kernel: AnyRef, method: String, dataType: DataType, args: Column*): Column =
    call(kernel, method, dataType, args, propagateNull = true, returnNullable = false)

  /** `kernel.method(args)` with null arguments passed through: the kernel
    * maps them itself. `nullable` says whether it can return null.
    */
  def nullAware(kernel: AnyRef, method: String, dataType: DataType, nullable: Boolean,
                args: Column*): Column =
    call(kernel, method, dataType, args, propagateNull = false, returnNullable = nullable)

  /** `value` as a literal argument of a kernel parameter of its class.
    * The value must be serializable (it ships with the plan), and equal
    * values make equal literals, so equal kernel calls stay one common
    * subexpression.
    */
  def obj(value: java.io.Serializable): Column =
    GraftColumnBridge.column(Literal(value, ObjectType(value.getClass)))

  private def call(kernel: AnyRef, method: String, dataType: DataType, args: Seq[Column],
                   propagateNull: Boolean, returnNullable: Boolean): Column = {
    val module = kernel.getClass
    val cls = Class.forName(module.getName.stripSuffix("$"), false, module.getClassLoader)
    val found = cls.getMethods.filter(m => m.getName == method &&
      Modifier.isStatic(m.getModifiers) && m.getParameterCount == args.size)
    require(found.length == 1,
      s"${cls.getName} needs exactly one static $method of ${args.size} parameters, " +
        s"found ${found.length}")
    GraftColumnBridge.column(StaticInvoke(cls, dataType, method,
      args.map(GraftColumnBridge.expression),
      inputTypes = found.head.getParameterTypes.toSeq.map(catalystType),
      propagateNull = propagateNull, returnNullable = returnNullable))
  }

  private def catalystType(c: Class[_]): DataType =
    if (c == classOf[UTF8String]) StringType
    else if (c == classOf[Array[Byte]]) BinaryType
    else if (c == java.lang.Integer.TYPE) IntegerType
    else if (!c.isPrimitive) ObjectType(c)
    else throw new IllegalArgumentException(s"no Catalyst input type for ${c.getName}")
}
