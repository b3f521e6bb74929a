package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** A global sort over a small input gets a one-partition range exchange,
  * which removes `RangePartitioner`'s sampling job.
  *
  * `EnsureRequirements` plans every global `ORDER BY` as a
  * `rangepartitioning(…, n)` exchange. For n > 1, building its
  * `RangePartitioner` runs a separate job that samples the sort's whole
  * input to find the range bounds; for n = 1 it computes no bounds.
  *
  * When the input is at most AQE's coalescing floor
  * (`spark.sql.adaptive.coalescePartitions.minPartitionSize`, 1 MB by
  * default), AQE would merge the shuffle back into one partition anyway:
  * in Spark 4.1.2, `ShufflePartitionsUtil.coalescePartitions` aims at
  * `max(min(ceil(total / minNumPartitions), advisorySize), minPartitionSize)`
  * bytes per partition, which is at least `total`. Without
  * `parallelismFirst` the floor is the (larger) advisory size, so the
  * merge holds there too. This rule asks for that one partition up front.
  * Results and row order are unchanged: the output is still one globally
  * sorted partition.
  *
  * Injected with `injectQueryStagePrepRule`, so AQE runs it after
  * `EnsureRequirements` on the initial plan, where the size is the
  * optimizer's estimate, and again on every re-plan, where finished stages
  * give runtime sizes. The size is that of the exchange's child, read from
  * its logical link; a child without one is left alone. Only exchanges
  * that `EnsureRequirements` added are rewritten: a user's
  * `repartitionByRange` (origin `REPARTITION_BY_NUM`/`_BY_COL`) keeps its
  * partitions. With AQE or partition coalescing off the rule does nothing,
  * and streaming plans, which do not use AQE, never reach it.
  */
object SmallSortSinglePartition extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.adaptiveExecutionEnabled ||
        !conf.coalesceShufflePartitionsEnabled) plan
    else {
      val floor =
        BigInt(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
      plan.transformUp {
        case e @ ShuffleExchangeExec(RangePartitioning(ord, n), child,
            ENSURE_REQUIREMENTS, _)
            if n > 1 && child.logicalLink.exists(_.stats.sizeInBytes <= floor) =>
          e.copy(outputPartitioning = RangePartitioning(ord, 1))
      }
    }
}
