package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{DataFrame => ClassicDF, Dataset => ClassicDataset, SparkSession => ClassicSession}

/** The one `private[sql]` hop a library-level custom operator needs: a
  * DataFrame wrapping a hand-built [[LogicalPlan]] (graft.plans.AsOfJoin).
  * Spark exposes plan CONSUMPTION through SparkSessionExtensions but not
  * plan CONSTRUCTION; placing this two-line bridge in
  * org.apache.spark.sql is the established extension-library pattern for
  * that gap. Nothing else in the repo lives in Spark's namespace.
  *
  * [[drainListeners]] is the second hop, for listener-based measurement:
  * it waits until the `private[spark]` listener bus has delivered every
  * posted event, so a counting listener can be read without a sleep.
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
