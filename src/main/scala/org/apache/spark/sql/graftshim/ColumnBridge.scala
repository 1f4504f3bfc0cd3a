package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DoubleType}

/** Narrow bridge to the `private[sql]` Column⇄Expression converters —
  * the one place this library reaches into Spark's namespace. Spark 4
  * hid the direct `new Column(expr)` constructor; extension libraries
  * either register every function (FunctionRegistry + call_function)
  * or bridge like this for a typed Column API. We do both: the
  * registry path in graft.functions.GraftExtensions, this bridge for
  * the compile-time-typed entry points. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** An expression whose every input the analyzer casts to DOUBLE
  * (`ImplicitCastInputTypes` names the private[sql] `AbstractDataType`,
  * so the mix-in lives behind the bridge). */
trait DoubleInputs extends ImplicitCastInputTypes {
  override def inputTypes: Seq[AbstractDataType] = children.map(_ => DoubleType)
}
