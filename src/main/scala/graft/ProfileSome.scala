package graft
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftPlanBridge, SparkSession}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev tool (r15 optimization round): per-query job/stage/task accounting.
  *
  * `sbt "runMain graft.ProfileSome q131_pagerank ..."` runs each named query
  * once warm + once measured (same session setup as Bench) and prints, for
  * the measured run: wall seconds, #jobs, #stages, #tasks, summed task
  * wall-clock, summed executor run/CPU time, and shuffle bytes
  * read/written. The interesting derived number is
  * `taskTime / (wall * cores)` — a low fraction means the query's wall time
  * is scheduling gaps (sequential actions, tiny stages), not compute, which
  * is what the guide §1 "empirical" pass needs to separate before touching
  * any operator. The listener bus is async, so it is drained
  * (`GraftPlanBridge.drainListeners`) before the counters are reset and
  * read; numbers are per measured run.
  */
object ProfileSome {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.names.foreach(n => Tables.ld(spark, sfDir, n).count())

    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong; val runMs = new AtomicLong
    val cpuNs = new AtomicLong
    val shRead = new AtomicLong; val shWrite = new AtomicLong
    val gcMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskMs.addAndGet(
            t.taskInfo.finishTime - t.taskInfo.launchTime)
          runMs.addAndGet(m.executorRunTime)
          cpuNs.addAndGet(m.executorCpuTime)
          gcMs.addAndGet(m.jvmGCTime)
          shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
        ()
      }
    })
    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0)
      taskMs.set(0); runMs.set(0); cpuNs.set(0)
      shRead.set(0); shWrite.set(0); gcMs.set(0)
    }
    val names =
      if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    names.foreach { name =>
      // Lookup inside the try (r16, ADVICE): a mistyped name must print
      // FAILED and move on, not abort the whole profiling run.
      def run(): Double = {
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      try {
        run() // warm
        // drain listener bus, then measure one run
        GraftPlanBridge.drainListeners(spark.sparkContext); reset()
        val wall = run()
        // deliver every event of the run before reading counters
        GraftPlanBridge.drainListeners(spark.sparkContext)
        val cores = cpus.toInt
        val util = taskMs.get() / 1000.0 / (wall * cores)
        println(f"PROFILE $name wall=$wall%.2fs jobs=${jobs.get()}%d " +
          f"stages=${stages.get()}%d tasks=${tasks.get()}%d " +
          f"taskTime=${taskMs.get() / 1000.0}%.2fs " +
          f"runTime=${runMs.get() / 1000.0}%.2fs " +
          f"cpuTime=${cpuNs.get() / 1e9}%.2fs gc=${gcMs.get() / 1000.0}%.2fs " +
          f"shRead=${shRead.get() / 1048576.0}%.1fMiB " +
          f"shWrite=${shWrite.get() / 1048576.0}%.1fMiB " +
          f"coreUtil=$util%.2f")
      } catch { case e: Throwable =>
        println(s"PROFILE $name FAILED: ${e.getMessage}")
      }
      // Same hygiene as Bench between queries
      queries.Relational.clearShared()
      queries.PipelineOps.clearShared()
      spark.sharedState.cacheManager.clearCache()
      val artifactIds = graft.engine.Artifacts.pinnedRddIds(spark)
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => artifactIds.contains(id) }
        .values.foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}
