package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one session policy of the engine's mains and tests: how a session
  * is built, how the host load is sampled, how a query is timed, and what
  * is torn down between queries. `Bench`, `Verify`, `Plans`, `Explain`,
  * `ProfileSome`, `ScalingCurve`, `Demo` and the test fixture all build
  * their session here, so a plan printed by one is the plan the others
  * run (the pattern of Pathling's `SqlStrategy.setup`: the session is
  * wired once, in one place).
  */
object Harness {

  /** Core count of the mains: `SPARK_GRAFT_CPUS`, default 4. Tests pass a
    * literal instead — the tier-1 test command exports this variable as the
    * host's core count, and PLANS.md must not depend on the host. */
  lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` with as many shuffle partitions, UTC, no UI, v2
    * bucketing on and the graft extensions. If a session already exists
    * the context (and so the master) is reused and only the session confs
    * and extensions apply. */
  def session(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // Declared session default: q309's SPJ demo needs it live at
    // physical-planning time (the caller's action), so it cannot be
    // scoped per-query; default-on makes it variance-free across queries.
    .config("spark.sql.sources.v2.bucketing.enabled", "true")
    .withExtensions(new graft.plans.GraftExtensions)
    .getOrCreate()

  /** Fixed calibration workload: deterministic, in-memory, plan-stable —
    * codegen'd hash + modulo, one 1000-key shuffle, keyed agg. ~0.2-0.4 s
    * at 32 threads; exercises the same resources (CPU, shuffle exchange,
    * task scheduling) whose contention inflates the inventory queries. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 8000000L, 1L, 32)
      .select((col("id") % 1000).as("k"), xxhash64(col("id")).as("h"))
      // avg, not sum: summing 8M xxhash64 longs overflows under ANSI mode
      .groupBy("k").agg(avg("h").as("a"), max("h").as("m"),
        count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Wall seconds of one full execution of `df` through the `noop` sink,
    * so the whole plan runs (a bare count() would let Catalyst prune
    * projections and sorts). A run that throws prints `<label> FAILED` and
    * yields None — never a (near-zero) elapsed time. */
  def timedRun(label: String)(df: => DataFrame): Option[Double] = {
    val t0 = System.nanoTime()
    try {
      df.write.format("noop").mode("overwrite").save()
      Some((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable =>
      System.err.println(s"$label FAILED: ${e.getMessage}")
      None
    }
  }

  /** Drops one query's scratch before the next starts.
    *
    * Session-lifetime localCheckpoint pins (the q134/q117 memoized
    * derivations) plus per-query checkpoint blocks accumulate across a
    * 285-query session — r11's driver bench showed tail queries (q257,
    * q164) inflated ~2× vs their isolated medians purely from held RDD
    * blocks. So the memo maps go FIRST (no live DataFrame still references
    * an unpersisted checkpoint), then the SQL cache, then every tracked
    * RDD. The next query's excluded warm-up pass re-derives whatever it
    * needs, so measured medians keep their steady-state meaning.
    *
    * blocking = true: async cleanup was observed landing on the NEXT
    * query's measured runs (r12 local: q258 runs [0.6, 2.0, 2.4] right
    * after q257's checkpoint-heavy teardown); paying the removal between
    * queries keeps it out of every median.
    *
    * DECLARED ARTIFACTS (r13): blocks pinned by graft.engine.Artifacts
    * (PQ codebooks/codes — durable build-time index tables in production)
    * survive; everything else is scratch and gets dropped. See Artifacts'
    * scaladoc + BASELINE.md for the declaration and the r12 driver
    * evidence that per-run re-training both misprices the PQ family and
    * starves its neighbors. */
  def teardown(spark: SparkSession): Unit = {
    queries.Relational.clearShared()
    queries.PipelineOps.clearShared()
    spark.sharedState.cacheManager.clearCache()
    val artifactIds = graft.engine.Artifacts.pinnedRddIds(spark)
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => artifactIds.contains(id) }
      .values.foreach(_.unpersist(blocking = true))
    // Full GC between queries: the r12 driver anomaly (q11 at 7.66 s /
    // 16.7× right after the checkpoint-heavy q119, runs still ESCALATING
    // 4.6→8.3 s, vs 1.12 s isolated) is collection debt from the
    // predecessor's freed blocks landing inside the successor's measured
    // window. Paying it here, outside every window, costs ~0.1 s/query and
    // makes medians attributable to the query's own plan.
    System.gc()
  }
}
