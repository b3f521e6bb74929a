package graft

import java.nio.file.Paths
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.scalatest.funsuite.AnyFunSuite

/** Queries that run on a child session ([[graft.engine.Sessions.child]])
  * reuse the generated classes of their earlier runs: the third run of a
  * query compiles nothing. With Spark's per-session artifact isolation on,
  * every new session got its own executor class loader, and the codegen
  * cache (keyed by class loader and source) missed on every run. Reads the
  * sf0.001 corpus committed in the checkout. */
class ChildSessionCodegenSpec extends AnyFunSuite with SparkFixture {
  private val sf = Paths.get("qbench/data/sf0.001").toAbsolutePath.toString

  /** Classes Janino compiled, driver and tasks together (local mode). */
  private def compiles(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `build` and collects its result three times back to back;
    * returns the classes compiled by each run. */
  private def threeRuns(build: () => DataFrame): Seq[Long] =
    (1 to 3).map { _ =>
      val before = compiles()
      build().collect()
      compiles() - before
    }

  Seq("q126_stream_neardup", "q99_runtime_filter_join").foreach { name =>
    test(s"$name: the third run on a child session compiles no class") {
      val q = SparkEntry.queries(name)
      val runs = threeRuns(() => q(spark, sf))
      assert(runs.head > 0, s"first run must compile something: $runs")
      assert(runs.last == 0, s"compiles per run: $runs")
    }
  }

  test("control: the same query on a bare newSession() compiles classes " +
    "on every run") {
    val q = SparkEntry.queries("q99_runtime_filter_join")
    val runs = threeRuns { () =>
      GraftPlanBridge.ofRows(spark.newSession(),
        q(spark, sf).queryExecution.logical)
    }
    assert(runs.last > 0, s"compiles per run: $runs")
  }
}
