package org.apache.spark.sql.classic

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.LogicalRDD

/** Column ⇄ Expression bridge for graft's custom Catalyst expressions.
  *
  * Spark 4's Column wraps a ColumnNode (Connect-compatible tree), and the
  * classic converters (`ExpressionUtils`) are `private[sql]` — so the
  * engine exposes exactly the two conversions it needs from inside the
  * package, the conventional extension-point pattern for custom
  * expressions on Spark 4. */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a raw logical plan (`Dataset.ofRows` is private[sql]) —
    * the construction point for graft's custom logical operators. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  /** `LogicalRDD` leaf over a frozen frame's rows, carrying the frame's
    * analyzed output and its stats and constraints (the stats rewrite is
    * private[sql]) — the `Dataset.localCheckpoint` construction, with
    * the layout supplied by the caller (`graft.plans.Eager`). */
  def frozenLeaf(df: org.apache.spark.sql.DataFrame, rdd: org.apache.spark.rdd.RDD[InternalRow],
      p: Partitioning, o: Seq[SortOrder]): org.apache.spark.sql.DataFrame = {
    val qe = df.asInstanceOf[Dataset[_]].queryExecution
    val (stats, constraints) = LogicalRDD.rewriteStatsAndConstraints(qe.analyzed, qe.optimizedPlan)
    val session = df.sparkSession.asInstanceOf[SparkSession]
    Dataset.ofRows(session, LogicalRDD(qe.analyzed.output, rdd, p, o, df.isStreaming)(
      session, stats, constraints).newInstance())
  }

  /** Analyzed logical plan of a DataFrame (`queryExecution` is classic-side). */
  def analyzed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[Dataset[_]].queryExecution.analyzed

  /** Cache-builder identity of an in-memory scan, as an opaque key
    * (`CachedRDDBuilder` is private[sql]) — the broadcast-race guard
    * groups broadcast builds by which cached frame they scan. */
  def cacheBuilderOf(
      s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec): AnyRef =
    s.relation.cacheBuilder

  /** Whether that cached frame's buffers are already materialized —
    * broadcasts over a loaded cache read it instead of racing to build. */
  def cacheLoaded(cacheBuilder: AnyRef): Boolean =
    cacheBuilder.asInstanceOf[
      org.apache.spark.sql.execution.columnar.CachedRDDBuilder]
      .isCachedColumnBuffersLoaded
}
