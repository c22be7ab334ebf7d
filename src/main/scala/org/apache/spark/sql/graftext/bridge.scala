package org.apache.spark.sql.graftext

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `org.apache.spark.sql` namespace: Spark 4 routes
  * Column construction through `ColumnNode`s and scopes the
  * Expression→Column conversion `private[sql]`, so a library adding a
  * custom Catalyst `Expression` needs this one-liner inside the sql
  * package to lift it into the public DataFrame API.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Lower a Column's node tree to a plain catalyst Expression the
    * analyzer can finish resolving. [[expression]] wraps the node in
    * an opaque `ColumnNodeExpression` that only Dataset-API entry
    * points rewrite — inside a FunctionRegistry builder's output that
    * wrapper survives analysis untouched and codegen rejects it; this
    * converter emits the equivalent Unresolved* tree instead, which
    * the analyzer's fixed-point pass resolves like any SQL-parsed
    * expression.
    */
  def resolvableExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Imperative twin of `graft.GraftExtensions` for sessions that were
    * built without the extensions conf (e.g. a caller-owned session):
    * registers the custom SQL functions directly in the session's
    * function registry. Idempotent — re-registration overwrites.
    */
  def registerFunctions(spark: org.apache.spark.sql.SparkSession): Unit =
    graft.GraftExtensions.descriptions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}

/** Spark's temp-directory lifecycle, which is `private[spark]`: a
  * directory made here is deleted with its contents by Spark's own
  * shutdown hook when the JVM exits.
  */
object TempDirs {
  /** A fresh `<prefix>-<uuid>` directory under `java.io.tmpdir`. */
  def deletedAtExit(prefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix)

  def deleteRecursively(dir: java.io.File): Unit =
    org.apache.spark.util.Utils.deleteRecursively(dir)
}
