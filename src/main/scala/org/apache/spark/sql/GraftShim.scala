package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** graft's only window into `private[sql]` Spark internals, placed in this
  * package for that access (same factory pattern as the public examples in
  * SNIPPETS.md [2]/[3]).
  */
object GraftShim {

  /** Column ↔ Expression for Spark 4's connect-split API. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Lineage cut WITHOUT the external-Row round trip.
    *
    * `spark.createDataFrame(df.rdd, schema)` — the round-3 cut used by the
    * iterative CC loop — pays a full DeserializeToObject pass (every
    * InternalRow converted to a GenericRow of boxed JVM objects) plus a
    * re-encode back to UnsafeRow on the other side, per round. The classic
    * session's `internalCreateDataFrame` wraps the SAME physical rows
    * (`queryExecution.toRdd`, copied because Spark reuses the row buffer) in
    * a LogicalRDD directly — the identical plan-flattening effect with zero
    * format conversion; the same access pattern Spark's own test utilities
    * use.
    */
  def cutLineage(df: DataFrame): DataFrame = {
    val rows: RDD[InternalRow] = df.queryExecution.toRdd.map(_.copy())
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, df.schema)
  }
}
