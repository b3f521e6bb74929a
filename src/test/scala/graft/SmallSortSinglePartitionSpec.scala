package graft

import java.nio.file.Paths
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.plans.SmallSortSinglePartition
import org.scalatest.funsuite.AnyFunSuite

/** `SmallSortSinglePartition`: a global sort over an input at or below
  * AQE's coalescing floor gets a one-partition range exchange and runs no
  * sampling job; larger sorts, a user's `repartitionByRange` and non-AQE
  * plans keep their partitions. Reads the sf0.001 corpus committed in the
  * checkout and writes nothing. */
class SmallSortSinglePartitionSpec extends AnyFunSuite with SparkFixture
    with AdaptiveSparkPlanHelper {
  private val sf = Paths.get("qbench/data/sf0.001").toAbsolutePath.toString
  private val Aqe = "spark.sql.adaptive.enabled"
  private val Coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
  private val MinSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** Runs `f` with the session confs set to `kvs`, then restores them. */
  private def withConf[T](kvs: (String, String)*)(f: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `f`'s result and the Spark jobs it started, counted by a listener
    * with the listener bus drained before and after. */
  private def jobsOf[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    GraftPlanBridge.drainListeners(sc)
    sc.addSparkListener(counter)
    try {
      val r = f
      GraftPlanBridge.drainListeners(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(counter)
  }

  /** Partition counts of the range exchanges in `df`'s executed plan,
    * looking inside AQE and its query stages. */
  private def rangeParts(df: DataFrame): Seq[Int] =
    collect(df.queryExecution.executedPlan) {
      case ShuffleExchangeExec(RangePartitioning(_, n), _, _, _) => n
    }

  private def q02: DataFrame = SparkEntry.queries("q02_filter")(spark, sf)

  test("q02's sort runs through one range partition and one job fewer") {
    q02.collect() // warm: the schema catalog and codegen
    val (small, withRule) = jobsOf { val df = q02; df.collect(); df }
    assert(rangeParts(small) == Seq(1))
    assert("""rangepartitioning\(.*, 1\), ENSURE_REQUIREMENTS""".r
      .findFirstIn(small.queryExecution.executedPlan.toString).isDefined)
    val (full, without) = withConf(Coalesce -> "false") {
      jobsOf { val df = q02; df.collect(); df }
    }
    assert(rangeParts(full) == Seq(4))
    assert(withRule == without - 1,
      s"$withRule jobs with the rule, $without without")
  }

  test("a sort whose estimated input is above the floor keeps its partitions") {
    withConf(MinSize -> "1") {
      val df = q02
      df.collect()
      assert(rangeParts(df) == Seq(4))
    }
  }

  test("a user's repartitionByRange keeps its partitions") {
    val df = Tables.ld(spark, sf, "orders")
      .repartitionByRange(4, col("o_orderkey"))
    df.collect()
    assert(rangeParts(df) == Seq(4))
    assert(df.rdd.getNumPartitions == 4)
  }

  test("with AQE off the plan is unchanged") {
    withConf(Aqe -> "false") {
      val plan = q02.queryExecution.executedPlan
      assert(rangeParts(q02) == Seq(4))
      assert(SmallSortSinglePartition(plan) eq plan)
    }
  }

  test("rows and their order are the same with and without the rule") {
    // o_orderpriority has five values; ties are broken by o_orderkey
    def sorted: DataFrame = Tables.ld(spark, sf, "orders")
      .select("o_orderpriority", "o_orderkey", "o_totalprice")
      .orderBy(col("o_orderpriority"), col("o_orderkey").desc)
    val one = sorted
    val withRule = one.collect().toSeq
    assert(rangeParts(one) == Seq(1))
    val (many, without) = withConf(Coalesce -> "false") {
      val df = sorted
      (df, df.collect().toSeq)
    }
    assert(rangeParts(many) == Seq(4))
    assert(withRule.nonEmpty && withRule == without)
  }
}
