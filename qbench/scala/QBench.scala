package qbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Closed-loop query runner: one client, one SparkSession at a time.
  *
  *     QBench <plan file> <result file>
  *
  * The plan (written by run.py) names the queries of every pass in seeded
  * order. The runner sets up `setups` times in a row (session build and
  * table registration, stopping the previous context first), keeps the last
  * session, builds the engine's declared artifacts on it by running each
  * `setup` query once, runs the warm passes (the last writes every result to parquet
  * for the oracle check), then runs measured passes: at least `min_passes`,
  * and until `seconds` have passed. The next query starts only after the
  * previous one has been written to the `noop` sink and torn down.
  *
  * Every set-up, pass and execution becomes one JSON line of the result
  * file; run.py turns the lines into metrics. With `trace 1` a [[Trace]]
  * listener adds each execution's Spark jobs, plan phases and task counters
  * to its line. */
object QBench {
  final case class Plan(kv: Map[String, String], setup: Seq[String],
      warm: Seq[Seq[String]], passes: Seq[Seq[String]]) {
    def apply(k: String): String = kv(k)
  }

  def readPlan(path: String): Plan = {
    val kv = Map.newBuilder[String, String]
    val setup = ArrayBuffer.empty[String]
    val warm, passes = ArrayBuffer.empty[Seq[String]]
    Files.readAllLines(Paths.get(path)).forEach { line =>
      line.trim.split("\\s+").toList match {
        case "setup" :: qs => setup ++= qs
        case "warm" :: qs => warm += qs
        case "pass" :: qs => passes += qs
        case k :: v :: Nil => kv += k -> v
        case _ =>
      }
    }
    Plan(kv.result(), setup.toSeq, warm.toSeq, passes.toSeq)
  }

  // Epoch milliseconds with sub-millisecond resolution, on the same clock
  // as Spark's listener timestamps.
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean
  /** CPU time of all the JVM's threads, JIT and GC included, milliseconds. */
  def cpuMs(): Double = osBean.getProcessCpuTime / 1e6
  /** Time the JIT compiler threads have spent compiling, milliseconds. */
  def jitMs(): Long = jitBean.getTotalCompilationTime
  private val threadBean = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  /** CPU time (ns) of each live Java thread: the driver, the executor's
    * task threads and Spark's service threads. The JIT compiler and GC
    * threads are not among them. */
  def threadCpu(): Map[Long, Long] = {
    val ids = threadBean.getAllThreadIds
    ids.zip(threadBean.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }
  /** CPU milliseconds the Java threads spent between two [[threadCpu]]
    * snapshots. A thread that ended in between is missed for that stretch. */
  def cpuBetween(before: Map[Long, Long], after: Map[Long, Long]): Double =
    after.map { case (id, ns) => math.max(0L, ns - before.getOrElse(id, 0L)) }.sum / 1e6
  /** Classes that Spark's code generator has compiled with Janino. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // Room for every class a workload generates. The default 100 entries
      // (an LRU split into segments) evict and re-compile classes on every
      // pass of a query mix, which keeps the JIT busy and made pass times
      // drift from run to run.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The host-load probe: the fixed CPU + one-shuffle job of the engine's
    * own bench calibration. Its time moves with host load, not with the
    * engine's query code. */
  def probe(spark: SparkSession): Double = {
    val t0 = now()
    spark.range(0L, 8000000L, 1L, 32)
      .select((col("id") % 1000).as("k"), xxhash64(col("id")).as("h"))
      .groupBy("k").agg(avg("h").as("a"), max("h").as("m"), count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    (now() - t0) / 1e3
  }

  /** Between-query teardown, as the engine's bench does it: drop query
    * memos and cached frames, unpersist every RDD that is not a declared
    * artifact, then collect garbage. */
  def teardown(spark: SparkSession): Unit = {
    graft.QBenchMemos.clear()
    spark.sharedState.cacheManager.clearCache()
    val keep = graft.engine.Artifacts.pinnedRddIds(spark)
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => keep.contains(id) }
      .values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def storageMb(sc: SparkContext): Double =
    sc.getExecutorMemoryStatus.values.map { case (max, free) => (max - free).toDouble }.sum / 1048576.0

  /** The peak of [[storageMb]] since the last [[reset]], sampled whenever
    * the block manager reports a block stored in memory. A query's blocks
    * can be freed before its result is written (Spark's ContextCleaner
    * drops a checkpoint's blocks once a collection finds it unreferenced),
    * so the peak is taken over the whole query, not at its end. */
  final class StoragePeak(sc: SparkContext) extends SparkListener {
    private var peak = 0.0
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      if (e.blockUpdatedInfo.memSize > 0) sample()
    def sample(): Unit = synchronized { peak = math.max(peak, storageMb(sc)) }
    def reset(): Unit = synchronized { peak = storageMb(sc) }
    def peakMb: Double = synchronized { peak }
  }

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val plan = readPlan(args(0))
    // Lines are kept in memory and written once the run is over.
    val lines = ArrayBuffer.empty[String]
    def emit(fields: (String, Any)*): Unit = lines += fields.map {
      case (k, v: String) => s"${jstr(k)}:${jstr(v)}"
      case (k, v: Double) => s"${jstr(k)}:${"%.4f".formatLocal(java.util.Locale.ROOT, v)}"
      case (k, v) => s"${jstr(k)}:$v"
    }.mkString("{", ",", "}")

    val cpus = plan("cpus").toInt
    val sfDir = plan("sf_dir")
    val work = plan("work_dir")
    val queries = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    (plan.setup +: (plan.warm ++ plan.passes)).flatten.distinct.foreach { q =>
      emit("kind" -> "oracle", "q" -> q, "sql" -> oracle.getOrElse(q, ""))
    }

    var spark: SparkSession = null
    var trace: Trace = null
    var storage: StoragePeak = null
    def execute(q: String, phase: String, pass: Int, dump: Boolean): Unit = {
      val sc = spark.sparkContext
      val pinsBefore = sc.getPersistentRDDs.keySet
      var err = ""
      org.apache.spark.QBenchDrain(sc)
      storage.reset()
      val (c0, j0, n0) = (cpuMs(), jitMs(), codegenCompiles())
      val a0 = threadCpu()
      val t0 = now()
      var t1 = t0
      try {
        val df: DataFrame = queries(q)(spark, sfDir)
        t1 = now()
        if (dump) df.write.mode("overwrite").parquet(s"$work/dump/$q")
        else df.write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        err = s"${e.getClass.getName}: ${e.getMessage}".take(500)
      }
      val t2 = now()
      val a2 = threadCpu()
      val (c2, j2, n2) = (cpuMs(), jitMs(), codegenCompiles())
      val pins = (sc.getPersistentRDDs.keySet -- pinsBefore).size
      org.apache.spark.QBenchDrain(sc)
      storage.sample()
      val storageAtPeak = storage.peakMb
      teardown(spark)
      val t3 = now()
      val fields = Seq("kind" -> "exec", "q" -> q, "phase" -> phase,
        "pass" -> pass, "t0" -> t0, "t1" -> t1, "t2" -> t2, "t3" -> t3,
        "cpu_ms" -> cpuBetween(a0, a2), "jvm_cpu_ms" -> (c2 - c0),
        "jit_ms" -> (j2 - j0), "codegen" -> (n2 - n0),
        "pins" -> pins, "storage_mb" -> storageAtPeak, "err" -> err)
      emit(fields ++ (if (trace != null) trace.take(sc) else Nil): _*)
    }

    // Set-up, repeated: session build and table registration.
    val setups = plan("setups").toInt
    for (r <- 0 until setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val s0 = now()
      spark = session(cpus, work)
      val r0 = now()
      graft.Tables.views(spark, sfDir)
      val s1 = now()
      emit("kind" -> "setup", "rep" -> r, "setup_s" -> (s1 - s0) / 1e3,
        "register_s" -> (s1 - r0) / 1e3)
    }
    storage = new StoragePeak(spark.sparkContext)
    spark.sparkContext.addSparkListener(storage)
    // The declared artifacts (PQ codebooks and codes) are built once, on the
    // kept session; the teardown keeps their blocks for the whole run.
    val a0 = now()
    plan.setup.foreach { q =>
      queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
      teardown(spark)
    }
    emit("kind" -> "artifacts", "build_s" -> (now() - a0) / 1e3,
      "pinned" -> graft.engine.Artifacts.pinnedRddIds(spark).size)

    // Warm passes; the last writes every result for the oracle check, so
    // that the first one times cold executions through the same sink as
    // the measured passes.
    for ((order, w) <- plan.warm.zipWithIndex) {
      val w0 = now()
      order.foreach(q => execute(q, "warm", w, dump = w == plan.warm.size - 1))
      emit("kind" -> "warm", "pass" -> w, "wall_s" -> (now() - w0) / 1e3,
        "artifacts" -> graft.engine.Artifacts.pinnedRddIds(spark).size)
    }

    // The host-load probe brackets the measured passes. Its first run in a
    // JVM compiles its code; the second one is reported.
    emit("kind" -> "probe", "when" -> "before", "s" -> { probe(spark); probe(spark) })

    // Measured passes: at least `min_passes`, and until `seconds` are up.
    var next = 0
    def measure(passes: Int, seconds: Double, traced: Boolean): Unit = {
      val m0 = now()
      var done = 0
      while (next < plan.passes.size &&
          (done < passes || now() - m0 < seconds * 1e3)) {
        val order = plan.passes(next)
        val p0 = now()
        order.foreach(q => execute(q, "measure", next, dump = false))
        emit("kind" -> "pass", "pass" -> next, "traced" -> traced,
          "wall_s" -> (now() - p0) / 1e3, "queries" -> order.size)
        next += 1
        done += 1
      }
    }
    val minPasses = plan("min_passes").toInt
    if (plan("trace") == "1") {
      // Untraced and traced passes alternate, so that the ratio of their
      // throughputs (the tracing overhead) is not skewed by warm-up.
      for (_ <- 0 until (minPasses + 1) / 2) {
        measure(1, 0, traced = false)
        trace = Trace.attach(spark)
        measure(1, 0, traced = true)
        Trace.detach(spark, trace)
        trace = null
      }
    } else {
      measure(minPasses, plan("seconds").toDouble, traced = false)
    }
    emit("kind" -> "probe", "when" -> "after", "s" -> probe(spark))
    spark.stop()
    Files.write(Paths.get(args(1)), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
