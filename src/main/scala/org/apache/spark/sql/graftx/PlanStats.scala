package org.apache.spark.sql.graftx

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** Row counts carried in a checkpointed frame's plan statistics.
  * `LogicalRDD`'s statistics constructor argument and
  * `Dataset.ofRows` are `private[sql]`-reachable only, hence the
  * namespace.
  */
object PlanStats {

  /** `df`, a checkpointed frame (one `LogicalRDD`), re-planned with
    * `rows` as its row count and `rows` × the schema's default row
    * width as its size, so the planner sizes joins against it from a
    * count instead of the unknown-size default. Any other frame comes
    * back unchanged.
    */
  def withRowCount(df: DataFrame, rows: Long): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.logicalPlan match {
      case r: LogicalRDD =>
        val stats = Statistics(
          sizeInBytes = EstimationUtils.getSizePerRow(r.output) * math.max(rows, 1L),
          rowCount = Some(BigInt(rows)))
        classic.Dataset.ofRows(ds.sparkSession,
          LogicalRDD(r.output, r.rdd, r.outputPartitioning, r.outputOrdering,
            r.isStreaming, r.stream)(ds.sparkSession, Some(stats), Some(r.constraints)))
      case _ => df
    }
  }

  /** The row count `df` is bounded by: the recorded count of the one
    * counted checkpoint its optimized plan reads through projections
    * and filters only (neither adds rows). None for any other plan.
    */
  def rowBound(df: DataFrame): Option[Long] = {
    def walk(p: LogicalPlan): Option[BigInt] = p match {
      case r: LogicalRDD => r.stats.rowCount
      case Project(_, child) => walk(child)
      case Filter(_, child) => walk(child)
      case _ => None
    }
    walk(df.queryExecution.optimizedPlan).map(_.toLong)
  }
}
