package org.apache.spark.sql.flowbench

import scala.util.Try

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}

/** The two session internals the traced lineage op needs to call the same
  * functions `SQLFlow.datasetGraph` is composed of. They live under
  * org.apache.spark.sql because the classic Dataset/SparkSession accessors
  * are not part of the public API. */
object Internals {

  def optimizedPlan(ds: Dataset[_]): LogicalPlan =
    ds.asInstanceOf[ClassicDataset[_]].queryExecution.optimizedPlan

  /** Same cache lookup `SQLFlow.datasetGraph` passes to `FlowAnalysis.analyze`. */
  def isCachedFn(spark: SparkSession): LogicalPlan => Boolean = {
    val session = spark.asInstanceOf[ClassicSession]
    plan => Try(session.sharedState.cacheManager.lookupCachedData(session, plan).isDefined)
      .getOrElse(false)
  }
}
