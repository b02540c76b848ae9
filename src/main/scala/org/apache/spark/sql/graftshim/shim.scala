package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter,
  ExpressionUtils}

/** Column ↔ Catalyst Expression bridge.
  *
  * Spark 4's Connect-compatible `Column` carries a `ColumnNode`, not an
  * `Expression`; the classic-session converters that map between them
  * (`org.apache.spark.sql.classic`) are `private[sql]`. graft builds
  * its Column API over custom Catalyst expressions, and its SQL
  * function registry reuses the operator library's Column
  * compositions, so this object, compiled into the `org.apache.spark.sql`
  * namespace, re-exports the conversions. No other internals are
  * touched; behavior is exactly the classic session's own resolution.
  */
object GraftColumnBridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)

  /** LAZY node→expression conversion, for Column-API builders
    * (`graft.functions`, `AvroFormat.decode`): the custom expression
    * wraps a `ColumnNodeExpression` that resolves when the analyzer's
    * own converter pass runs over the returned Column's plan, so the
    * argument may be any Column, built-ins and unresolved names
    * included.
    */
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER node→expression conversion, for `FunctionRegistry`
    * builders (`GraftFunctions`). An expression returned from a
    * registry builder bypasses the analyzer's converter pass, so the
    * lazy form would die Unevaluable at codegen. Converting eagerly
    * yields a plain catalyst tree (built-ins as `UnresolvedFunction`s
    * the analyzer resolves in its normal fixed point).
    */
  def toEagerExpression(c: Column): Expression =
    ColumnNodeToExpressionConverter(c.node)

  /** Rebuild an ALREADY-MATERIALIZED frame (a checkpoint) as a fresh
    * `LogicalRDD` carrying NO inherited statistics or constraints.
    *
    * `Dataset.checkpoint`/`localCheckpoint` seed the new `LogicalRDD`
    * with the originating plan's estimated `Statistics` (`originStats`)
    * so downstream joins keep their size estimates. In an ITERATIVE
    * join loop that inheritance is a driver-killer: without column
    * stats Catalyst estimates a join's `sizeInBytes` as the PRODUCT of
    * its children's, so a loop whose round-k inputs are round-(k-1)
    * checkpoints compounds the estimate multiplicatively — the
    * `BigInt`'s digit count grows geometrically per round (~4× with a
    * self-join in the round body) until the driver spends minutes
    * inside `BigInteger.multiply` while computing the next
    * checkpoint's stats. Wrapping each round's checkpoint through this
    * method resets the estimate to the leaf default, bounding every
    * round's stats computation to a plan of small, fixed depth.
    * Runtime re-planning (AQE) still converts small sides to
    * broadcast from MEASURED shuffle sizes, so the loop loses nothing
    * a static estimate would have bought.
    *
    * The input must already be materialized: the returned frame scans
    * `df`'s execution RDD directly (no Row round-trip) and drops the
    * plan that produced it.
    */
  def withoutPlanStats(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[
      org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema)
  }
}
