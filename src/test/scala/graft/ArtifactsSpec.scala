package graft

import java.nio.file.Paths

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract of the declared-build-time-artifact layer (r13): build-once
  * memoization, pinned-block bookkeeping the bench teardown consults, and
  * scoped scratch that never outlives its build. These are the properties
  * the whole q11-anomaly fix rests on — each one checked directly here,
  * not inferred from bench timings.
  */
class ArtifactsSpec extends AnyFunSuite with SparkFixture {
  import graft.engine.Artifacts

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("memo builds once per key and returns the cached value after") {
    var builds = 0
    def build() = Artifacts.memo(spark, "spec:memo-once") {
      builds += 1
      spark.range(10).localCheckpoint()
    }
    val a = build(); val b = build()
    assert(builds == 1, "second call must not rebuild")
    assert(a eq b, "cached value must be returned by reference")
    assert(a.count() == 10)
  }

  test("memo pins exactly the blocks persisted during the build, and the " +
    "bench teardown sweep (unpersist all EXCEPT pinned) leaves them alive") {
    val before = persistedIds
    val df = Artifacts.memo(spark, "spec:pin") {
      spark.range(100).select(col("id"), (col("id") * 2).as("y"))
        .localCheckpoint()
    }
    val created = persistedIds -- before
    assert(created.nonEmpty, "the build must have persisted blocks")
    assert(created.subsetOf(Artifacts.pinnedRddIds),
      s"pinned ${Artifacts.pinnedRddIds} must cover built $created")
    // a NON-artifact checkpoint alongside it…
    val beforeScratch = persistedIds
    val scratch = spark.range(50).localCheckpoint()
    assert(scratch.count() == 50)
    val scratchIds = persistedIds -- beforeScratch
    assert(scratchIds.nonEmpty, "the scratch checkpoint must persist blocks")
    // …the between-query teardown of Bench and Verify drops scratch,
    // keeps the artifact
    Harness.teardown(spark)
    assert((persistedIds & scratchIds).isEmpty,
      "scratch blocks must not survive the teardown")
    assert((persistedIds & created) == created,
      "artifact blocks must survive the teardown sweep")
    assert(df.count() == 100, "artifact must stay readable after the sweep")
  }

  test("scoped pins a scratch frame for the build only and drops its " +
    "blocks before returning — they are never in the pinned set") {
    val before = persistedIds
    var scratchIds: Set[Int] = Set.empty
    val out = Artifacts.memo(spark, "spec:scoped") {
      Artifacts.scoped(spark, spark.range(30).select(col("id"))) { scr =>
        scratchIds = persistedIds -- before
        assert(scratchIds.nonEmpty, "scratch must be pinned inside use()")
        // the durable output materializes EAGERLY before scoped returns
        scr.filter(col("id") < 5).localCheckpoint()
      }
    }
    assert(out.count() == 5)
    assert((persistedIds & scratchIds).isEmpty,
      "scratch blocks must be unpersisted after the build")
    assert((scratchIds & Artifacts.pinnedRddIds).isEmpty,
      "scratch blocks must never enter the pinned set")
  }

  test("clearAll unpins and unpersists every artifact (diagnostic path)") {
    val before = persistedIds
    Artifacts.memo(spark, "spec:clear") { spark.range(7).localCheckpoint() }
    val created = persistedIds -- before
    assert(created.subsetOf(Artifacts.pinnedRddIds))
    Artifacts.clearAll(spark)
    assert(Artifacts.pinnedRddIds.isEmpty)
    assert((persistedIds & created).isEmpty, "blocks must be gone")
    // and the memo rebuilds cleanly afterwards — with the NEW blocks
    // re-pinned, so a post-rebuild teardown sweep won't drop the live
    // artifact (the session-restart story the bench relies on)
    val preRebuild = persistedIds
    val rebuilt = Artifacts.memo(spark, "spec:clear") {
      spark.range(7).localCheckpoint()
    }
    val rebuiltIds = persistedIds -- preRebuild
    assert(rebuiltIds.nonEmpty && rebuiltIds.subsetOf(Artifacts.pinnedRddIds),
      "rebuild after clearAll must re-pin its blocks")
    assert(rebuilt.count() == 7)
  }

  private val sf = Paths.get("qbench/data/sf0.001").toAbsolutePath.toString

  test("q119's build pins exactly its 3 artifact frames and records its " +
    "cost; no corpus scratch block survives it") {
    Artifacts.clearAll(spark)
    val before = persistedIds
    SparkEntry.queries("q119_ann_ivfpq")(spark, sf).collect()
    val b = Artifacts.builds(spark)(s"pq-codes-lut:$sf")
    assert(b.pinnedRdds == 3, s"codes, lut and c1 only: $b")
    assert(b.pinnedBytes > 0 && b.ms > 0, s"build record: $b")
    assert(Artifacts.pinnedRddIds(spark).size == 3)
    assert(persistedIds -- before == Artifacts.pinnedRddIds(spark),
      "every block left after the build must be an artifact pin")
  }

  test("q125 then q185 in one session trains the coarse quantizer once: " +
    "residual-pq reuses ivf-coarse") {
    Artifacts.clearAll(spark)
    SparkEntry.queries("q125_ann_ivf_pq")(spark, sf).collect()
    val coarse = Artifacts.builds(spark)(s"ivf-coarse:$sf")
    SparkEntry.queries("q185_residual_pq")(spark, sf).collect()
    val after = Artifacts.builds(spark)
    assert(after.keySet ==
      Set(s"ivf-coarse:$sf", s"pq-codes-lut:$sf", s"residual-pq:$sf"))
    assert(after(s"ivf-coarse:$sf") eq coarse, "ivf-coarse must not rebuild")
    assert(after(s"residual-pq:$sf").pinnedRdds == 2,
      "residual-pq pins rcc1 and rcodes only, no second coarse quantizer")
    Artifacts.clearAll(spark)
  }
}
