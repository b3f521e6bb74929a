package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One session per suite: the mains' session ([[Harness.session]]) at a
  * fixed local[4], which keeps test latency low. The core count is a
  * literal, not `SPARK_GRAFT_CPUS`, so plan assertions (and PLANS.md,
  * which `Plans` derives from the same session) do not depend on the host. */
trait SparkFixture extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = Harness.session(4)

  override def afterAll(): Unit = {
    // Session is shared process-wide (getOrCreate); don't stop between
    // suites — sbt forks one JVM for the whole test run.
    super.afterAll()
  }
}
