package org.apache.spark.sql.classic

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ Expression bridge for custom Catalyst expressions.
  *
  * Spark 4 made `ExpressionUtils` private[sql]; a library defining native
  * `Expression`s (graft.exprs) needs exactly its two conversions. This tiny
  * shim lives in the classic package to re-export them — public Spark API
  * surface, no behavior of its own.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a SQL function into an EXISTING session's registry (the
    * post-hoc path for sessions not built with `.withExtensions`).
    * `sessionState` is `private[sql]` in Spark 4 — same re-export
    * rationale as the Column bridge above.
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[SparkSession].sessionState.functionRegistry
      .registerFunction(name, info, builder)

  /** Raise a user-facing analysis error (invalid function arguments etc.).
    * The single-message AnalysisException constructor is private[sql] in
    * Spark 4 — same re-export rationale as the rest of this shim.
    */
  def analysisError(msg: String): Nothing =
    // _LEGACY_ERROR_TEMP_3105's template is literally "<message>" — any
    // other parameter key makes ErrorClassesJsonReader throw
    // INTERNAL_ERROR instead, burying the user-facing message in a
    // parameter dump
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "_LEGACY_ERROR_TEMP_3105",
      messageParameters = Map("message" -> msg))

  /** Block until Spark's listener bus has delivered every event posted
    * so far (TimeoutException after 10 s), so a listener's counts are
    * complete when read. `listenerBus` is `private[spark]` — same
    * re-export rationale as the rest of this shim.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Apply a SparkSessionExtensions configurator to a fresh registry and
    * return the registered function names — lets a test exercise the
    * `injectFunction` → session-state wiring without building a second
    * SparkSession (the shared-fixture session is getOrCreate'd, so
    * `.withExtensions` on a live JVM would be silently ignored).
    */
  def injectedFunctionNames(
      configure: org.apache.spark.sql.SparkSessionExtensions => Unit): Seq[String] = {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    configure(ext)
    val reg = new org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
    ext.registerFunctions(reg)
    reg.listFunction().map(_.funcName)
  }
}
