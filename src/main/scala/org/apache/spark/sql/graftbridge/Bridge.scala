package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, NullType}

/** Minimal Column <-> catalyst Expression bridge. Spark 4 made the
  * converters `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`,
  * columnNodeSupport.scala), so libraries registering custom expressions do
  * it from a sub-package of org.apache.spark.sql — the established pattern
  * for Catalyst extension libraries. This is the ONLY non-`graft` package in
  * the codebase and holds no engine logic, only what needs `private[sql]`
  * access.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** An argument type that accepts `t` alone (nullability aside) and that
    * no implicit cast reaches: a function declaring it fails analysis on a
    * wrong-typed argument instead of casting it. Type coercion casts an
    * argument to the expected type's `defaultConcreteType` when it can
    * (a `DataType` input type would take `array<double>` to `array<float>`);
    * `NullType` is a type no other type casts to, and an untyped NULL
    * stays untyped and fails too. The members are `private[sql]`. */
  final case class Exactly(t: DataType) extends AbstractDataType {
    override private[sql] def defaultConcreteType: DataType = NullType
    override private[sql] def acceptsType(other: DataType): Boolean = other.sameType(t)
    override private[sql] def simpleString: String = t.simpleString
  }

  /** Blocks until the listener bus has delivered every posted event
    * (`SparkContext.listenerBus` is `private[spark]`). */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Runtime function registration (sessionState is `private[sql]`). */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      id: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(id, info, builder)

  /** Build a session over an EXISTING SparkContext with a
    * SparkSessionExtensions instance applied — `spark.sql.extensions` is a
    * STATIC conf read from the context at build, so a shared test context
    * cannot opt in through builder options; the `private[sql]` constructor
    * is the supported-in-spirit path (it is exactly what getOrCreate calls
    * after loading the configured classes). */
  def sessionWithExtensions(
      sc: org.apache.spark.SparkContext,
      apply: org.apache.spark.sql.SparkSessionExtensions => Unit): org.apache.spark.sql.SparkSession = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    apply(ext)
    // the primary constructor is class-private (getOrCreate's internal
    // path); located structurally so a Spark-side arity change fails loudly
    // here instead of resolving to the wrong overload
    val ctor = classOf[org.apache.spark.sql.classic.SparkSession]
      .getDeclaredConstructors
      .find(_.getParameterTypes.exists(
        _ == classOf[org.apache.spark.sql.SparkSessionExtensions]))
      .getOrElse(throw new IllegalStateException(
        "no SparkSession constructor taking SparkSessionExtensions"))
    // the find above only proves SOME parameter is the extensions type; the
    // invocation below hard-codes the 6-argument shape — assert it so a
    // Spark-side signature drift names itself instead of surfacing as an
    // opaque IllegalArgumentException from newInstance
    require(ctor.getParameterCount == 6,
      s"SparkSession private constructor arity drifted: expected 6 args " +
        s"(sc, sharedState, sessionState, extensions, initialOptions, parentManagedJobTags), " +
        s"found ${ctor.getParameterCount} in $ctor")
    ctor.setAccessible(true)
    ctor.newInstance(sc, None, None, ext, Map.empty, Map.empty)
      .asInstanceOf[org.apache.spark.sql.SparkSession]
  }
}
