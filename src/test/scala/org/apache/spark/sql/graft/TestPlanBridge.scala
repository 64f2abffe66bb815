package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}

/** Test-scope bridge for specs that must build a DataFrame from a
  * hand-constructed LogicalPlan (e.g. a [[org.apache.spark.sql.catalyst
  * .plans.logical.MapInPandas]] node, which the Scala Dataset API cannot
  * produce without a live Python runtime), or reach the per-Dataset
  * lineage memo from outside this package. Lives in this package because
  * `Dataset.ofRows` and the memo are private. */
object TestPlanBridge {
  def dfFromPlan(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  private def optimized(ds: Dataset[_]): LogicalPlan =
    ds.asInstanceOf[ClassicDataset[_]].queryExecution.optimizedPlan

  /** Whether `SQLFlow.datasetGraph` keeps a lineage memo for `ds`. */
  def keepsLineage(ds: Dataset[_]): Boolean = SQLFlow.datasetMemo.get(optimized(ds)).isDefined

  /** Drop `ds`'s lineage memo, so the next `SQLFlow.datasetGraph` call
    * walks the plan again. */
  def forgetLineage(ds: Dataset[_]): Unit = SQLFlow.datasetMemo.remove(optimized(ds))
}
