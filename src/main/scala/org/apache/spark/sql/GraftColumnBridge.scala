package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the sql-private Column⇄Expression converters so graft's native
  * Catalyst expressions can be used through the public Column API, and to
  * Dataset.ofRows so optimizer rules can rebuild plans with the DataFrame
  * API (the spatial-join rewrite). */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  def logicalPlan(df: Dataset[_]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** Lineage truncation for iterative algorithms (dupGroups' star rounds):
    * re-roots the frame on its physical RDD as a LogicalRDD, so N rounds of
    * self-referencing transforms don't build an exponentially-branching
    * logical plan (each round's analyze/optimize/plan-print would otherwise
    * walk the whole history — the classic iterative-caching OOM). The RDD
    * still evaluates through the source frame's cache when one exists;
    * evaluation cost is unchanged, only the plan is cut. */
  def flattenLineage(df: DataFrame): DataFrame =
    mapInternalPartitions(df)((_, rows) => rows)

  /** `f` over each partition's rows (with the partition index) as
    * `InternalRow`s, re-rooted like flattenLineage: no encoder round trip
    * to external `Row`s and back. */
  def mapInternalPartitions(df: DataFrame)(
      f: (Int, Iterator[InternalRow]) => Iterator[InternalRow]): DataFrame = {
    val cdf = df.asInstanceOf[classic.DataFrame]
    cdf.sparkSession.internalCreateDataFrame(
      cdf.queryExecution.toRdd.mapPartitionsWithIndex(f), cdf.schema)
  }
}
