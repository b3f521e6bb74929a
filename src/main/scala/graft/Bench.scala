package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Bench harness: every SparkEntry query against SPARK_GRAFT_SF_DIR, timed
  * end-to-end through a `noop` sink so the FULL plan executes (a bare
  * count() would let Catalyst prune projections/sorts and under-report).
  *
  * Output protocol — the driver keeps only a TAIL of stdout, and r2/r3's
  * summary line (all ~88 per-query times inline, 2.2 KB) still overflowed it
  * three rounds running (`"parsed": null`). So: one compact line per query as
  * it finishes (full detail lives there), and a summary line LAST that is
  * deliberately SMALL (<1.5 KB): total + sf + the 10 slowest queries only.
  * Failed queries are marked `"sec":null,"err":true` in their per-query line
  * and EXCLUDED from min/total, so a crash can't masquerade as a fast run.
  *
  * Each query runs ONE excluded warm-up pass (absorbs Janino codegen, JIT,
  * and first-touch cache effects — r2-r6 showed 2-6x swings on untouched
  * scalar queries from shared-session contention; min-of-2 did NOT remove
  * it: r6 saw q44 5.35 -> 1.15 s and q31 2.64 s -> off-list with zero code
  * change) then SPARK_GRAFT_BENCH_ITERS measured runs (default 3) and
  * reports the per-query MEDIAN — robust to a single interfered run in
  * either direction, so plan-level wins/regressions are attributable
  * round-over-round. The warm-up time is still printed per query
  * (`"warm"`) so a pathological first run stays visible.
  *
  * CALIBRATION (r8): within-run medians are trustworthy, but round-over-
  * round totals swung ±35 % from HOST load alone (r7: untouched q19
  * ≈1.1 → 4.5 s in the driver artifact vs 0.77 s isolated). So the bench
  * interleaves a fixed synthetic workload — pure CPU + one shuffle, no IO,
  * independent of every inventory query — measured median-of-3 at start,
  * then one sample every [[CalEvery]] queries. Every per-query line carries
  * `"ratio"` = median / (nearest preceding calibration sample): a host
  * slowdown inflates numerator and denominator together, so the ratio is
  * the round-over-round comparable number. The summary reports the
  * calibration med/min/max — max/min far above ~1.5 means the host load
  * moved DURING the run and absolute seconds from that run are suspect.
  *
  * DETAIL ARTIFACT (r9): the driver keeps only a stdout TAIL, so r8's run
  * preserved 1 of 123 per-query ratio lines — the calibration data the r8
  * protocol exists to produce was being thrown away. Every per-query line
  * (and the final summary) is therefore ALSO appended to
  * [[detailPath]] (default `target/bench_detail.jsonl`, override via
  * SPARK_GRAFT_BENCH_DETAIL). Committing that file per round
  * (`BENCH_DETAIL_r{N}.jsonl`) makes the round-over-round ratio gate
  * mechanical: `sbt "runMain graft.BenchCompare old.jsonl new.jsonl"`
  * ([[BenchCompare]]) prints every query whose ratio regressed past its
  * threshold and exits 1 if any did.
  */
object Bench {

  /** Fixed calibration workload: deterministic, in-memory, plan-stable —
    * codegen'd hash + modulo, one 1000-key shuffle, keyed agg. ~0.2-0.4 s
    * at 32 threads; exercises the same resources (CPU, shuffle exchange,
    * task scheduling) whose contention inflates the inventory queries. */
  private def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 8000000L, 1L, 32)
      .select((col("id") % 1000).as("k"), xxhash64(col("id")).as("h"))
      // avg, not sum: summing 8M xxhash64 longs overflows under ANSI mode
      .groupBy("k").agg(avg("h").as("a"), max("h").as("m"),
        count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private val CalEvery = 8 // one calibration sample per 8 queries (~+2 % runtime)

  /** SELF-ADJUDICATION (r14): two straight rounds lost judge/builder
    * cycles to unflagged host-load phantoms (r12 q11; r13 q324, whose
    * measured triple [3.1, 55.2, 25.7] s — a 17.7× within-query spread —
    * sailed into the round artifact as a silent "green" 25.7 s median).
    * The bench now adjudicates its own outliers in-run: a query whose
    * triple spreads >[[SpreadFlag]]× (and isn't trivially fast), or whose
    * calibration RATIO exceeds 2× its newest committed local ratio (the
    * load-invariant comparison — absolute seconds swing ±35 % with host
    * load), is re-measured ONCE in a clean window (post-teardown, after
    * an adjacent calibration sample). The per-query line then carries
    * `load_suspect:true` + `recheck_sec`/`recheck_cal`/`recheck_ratio`
    * (+ the committed numbers), and the summary lists the suspects plus
    * `suspect_excess_sec` = Σ max(0, median − recheck) — the total's
    * load-phantom inflation, readable at a glance. The MEDIAN stays the
    * reported `sec` (the artifact records what was measured; the
    * annotation is the adjudication). */
  private val SpreadFlag = 3.0

  /** Newest committed per-query detail (BENCH_DETAIL_r*_local.jsonl):
    * name → (sec, ratio). The ratio is the round-over-round comparable
    * number; seconds are kept for the annotation only.
    *
    * SF GUARD (r15, ADVICE): ratios are only comparable at the SAME scale
    * factor — a sf0.01 spot run compared against the committed sf0.1
    * detail would mass-miss (or, inverted, mass-flag) load suspects. Every
    * detail file now opens with a `bench_meta` line recording its sfDir;
    * when the committed file's sf differs from the current run's, the
    * ratio-vs-committed adjudication is disabled (empty map — the
    * within-triple spread check still runs). Committed files predating the
    * meta line are all full sf0.1 runs (r9–r14), the documented default.
    *
    * CPUS GUARD (r16, VERDICT item 3): ratios are also only comparable at
    * the SAME core count — the driver's 8-core scaling run compared its
    * ratios against committed 32-core ratios and mass-flagged 82 bogus
    * "suspects" (heavy queries legitimately take longer relative to the
    * CPU-bound calibration workload on fewer cores). `bench_meta` records
    * cpus; when the committed file's cpus differ from the current run's,
    * the ratio-vs-committed adjudication is disabled the same way. Files
    * predating the meta line are all 32-core runs, the driver's main
    * contract. */
  private def committedDetail(
      sfDir: String, cpus: String): Map[String, (Double, Double)] = {
    val re = """BENCH_DETAIL_r(\d+)_local\.jsonl""".r
    val line =
      """"bench_query":"([^"]+)","sec":([0-9.]+),"ratio":([0-9.]+)""".r
    val metaRe = """"bench_meta":\{"sf":"([^"]+)"""".r
    val cpusRe = """"bench_meta":\{.*?"cpus":(\d+)""".r
    Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
      .flatMap(f => f.getName match {
        case re(n) => Some((n.toInt, f))
        case _ => None
      })
      .sortBy(-_._1).headOption.map { case (_, f) =>
        val src = scala.io.Source.fromFile(f)
        try {
          val lines = src.getLines().toList
          val committedSf = lines.iterator
            .flatMap(metaRe.findFirstMatchIn(_).map(_.group(1)))
            .nextOption().getOrElse("/root/testdata/sf0.1")
          val committedCpus = lines.iterator
            .flatMap(cpusRe.findFirstMatchIn(_).map(_.group(1)))
            .nextOption().getOrElse("32")
          if (committedSf != sfDir || committedCpus != cpus)
            Map.empty[String, (Double, Double)]
          else lines.flatMap(line.findFirstMatchIn(_).map(m =>
            m.group(1) -> (m.group(2).toDouble, m.group(3).toDouble))).toMap
        } finally src.close()
      }.getOrElse(Map.empty)
  }

  /** The cpus-keyed mirror of `detailPath` (see `main`), or None for a
    * subset run: a spot bench of a few queries would otherwise truncate a
    * full run's mirror at the same core count. */
  def mirrorPath(detailPath: String, cpus: String,
      subset: Boolean): Option[String] =
    if (subset) None else Some(detailPath.stripSuffix(".jsonl") + s"_c$cpus.jsonl")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Declared session default: q309's SPJ demo needs it live at
      // physical-planning time (the caller's action), so it cannot be
      // scoped per-query; default-on makes it variance-free across queries.
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Per-query detail sink: stdout tail truncation loses the ratio lines
    // (r8 kept 1 of 123), so mirror every JSON line into a committed file.
    val detailPath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_DETAIL", "target/bench_detail.jsonl")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(detailPath).toAbsolutePath.getParent)
    val detail = new java.io.PrintWriter(
      new java.io.FileWriter(detailPath, /*append=*/ false), /*autoFlush=*/ true)
    // CPUS-KEYED MIRROR (r16, VERDICT item 2): the detail path is fixed, so
    // r15's 8-core scaling run OVERWROTE the 32-core run's per-query detail
    // an hour after it was written and the round lost its driver-side
    // per-query evidence (PERF_r15 n_common: 0). Every line is therefore
    // ALSO written to `<detailPath minus .jsonl>_c${cpus}.jsonl` — runs at
    // different core counts can never destroy each other's artifact, while
    // the primary path keeps its contract for existing consumers. A subset
    // run writes no mirror ([[mirrorPath]]).
    // Optional subset (spot benches of a few queries; a full bench never
    // sets it, so the per-round artifact always covers the full inventory).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val mirror = mirrorPath(detailPath, cpus, subset = only.isDefined)
      .map(p => new java.io.PrintWriter(
        new java.io.FileWriter(p, /*append=*/ false), /*autoFlush=*/ true))
    def emit(line: String): Unit =
      { println(line); detail.println(line); mirror.foreach(_.println(line)) }
    // One line per declared-artifact build (graft.engine.Artifacts), named
    // after the query whose excluded warm pass built it: the one-time cost
    // that the measured medians leave out on purpose.
    val artifactLog = new java.io.PrintWriter(new java.io.FileWriter(
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
        .resolve("bench_artifacts.jsonl").toFile, /*append=*/ false), true)
    val logged = scala.collection.mutable.Map.empty[String, graft.engine.Artifacts.Build]
    def logBuilds(query: String): Unit =
      graft.engine.Artifacts.builds(spark).values.toSeq.sortBy(_.key)
        .filterNot(b => logged.get(b.key).exists(_ eq b)).foreach { b =>
          logged(b.key) = b
          artifactLog.println(s"""{"artifact":"${b.key}","query":"$query","build_ms":${"%.1f".formatLocal(java.util.Locale.ROOT, b.ms)},"pinned_rdds":${b.pinnedRdds},"pinned_bytes":${b.pinnedBytes}}""")
        }
    // Meta header: records the run's scale factor so committedDetail's
    // sf guard (and the BenchRegressionSpec live gate) can refuse to
    // compare ratios across different scales. Ignored by every line
    // parser (no "bench_query" field).
    emit(s"""{"bench_meta":{"sf":"$sfDir","iters":$iters,"cpus":$cpus}}""")
    // Warm up session, codegen, and parquet footer/file-listing caches so
    // the first measured query doesn't absorb one-time JVM costs. Per-table
    // try/catch: r10 died here (rc:1, zero timings) when one table's fixture
    // encoding regressed — a broken table must cost only its own queries
    // (marked err:true below), never the other ~150 measurements.
    Tables.names.foreach { n =>
      try Tables.ld(spark, sfDir, n).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up load of $n FAILED: ${e.getMessage}")
      }
    }
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // Calibration baseline: warm-up + median-of-3 before the first query.
    calibrate(spark)
    val calSamples = scala.collection.mutable.ArrayBuffer(
      median((1 to 3).map(_ => calibrate(spark))))
    var sinceCal = 0
    val committed = committedDetail(sfDir, cpus)
    // Subset mode samples calibration per-QUERY: r13's judge adjudication
    // ran 7 queries against ONE baseline sample (cal n=1) — outlier
    // adjudication needs a sample adjacent to each measured query.
    val calEvery = if (only.isDefined) 1 else CalEvery
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      // In-run samples are median-of-3 like the baseline: a single-shot
      // sample lets one GC pause skew the ratio of the next CalEvery
      // queries — the exact noise the calibration exists to remove.
      // 3 × ~0.3 s every 8 queries keeps overhead well under 2 %.
      if (sinceCal >= calEvery) {
        calSamples += median((1 to 3).map(_ => calibrate(spark)))
        sinceCal = 0
      }
      sinceCal += 1
      // A run that throws yields None — never a (near-zero) elapsed time.
      def run(): Option[Double] = {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          None
        }
      }
      val warm = run() // excluded warm-up
      logBuilds(name)
      val times: Seq[Option[Double]] = (1 to iters).map(_ => run())
      val ok = times.flatten
      // BENCH HYGIENE (r12): session-lifetime localCheckpoint pins (the
      // q134/q117 memoized derivations) plus per-query checkpoint blocks
      // accumulate across a 285-query session — r11's driver bench showed
      // tail queries (q257, q164) inflated ~2× vs their isolated medians
      // purely from held RDD blocks. Drop the memo maps FIRST (so no live
      // DataFrame still references an unpersisted checkpoint), then clear
      // the SQL cache and unpersist every tracked RDD. The next query's
      // excluded warm-up pass re-derives whatever it needs, so measured
      // medians keep their steady-state meaning.
      // blocking = true: async cleanup was observed landing on the NEXT
      // query's measured runs (r12 local: q258 runs [0.6, 2.0, 2.4]
      // right after q257's checkpoint-heavy teardown); paying the
      // removal between queries keeps it out of every median.
      // DECLARED ARTIFACTS (r13): blocks pinned by graft.engine.Artifacts
      // (PQ codebooks/codes — durable build-time index tables in
      // production) survive the teardown; everything else is scratch and
      // gets dropped. See Artifacts' scaladoc + BASELINE.md for the
      // declaration and the r12 driver evidence that per-run re-training
      // both misprices the PQ family and starves its neighbors.
      def teardown(): Unit = {
        queries.Relational.clearShared()
        queries.PipelineOps.clearShared()
        spark.sharedState.cacheManager.clearCache()
        val artifactIds = graft.engine.Artifacts.pinnedRddIds(spark)
        spark.sparkContext.getPersistentRDDs
          .filterNot { case (id, _) => artifactIds.contains(id) }
          .values.foreach(_.unpersist(blocking = true))
        // Full GC between queries: the r12 driver anomaly (q11 at 7.66 s /
        // 16.7× right after the checkpoint-heavy q119, runs still
        // ESCALATING 4.6→8.3 s, vs 1.12 s isolated) is collection debt from
        // the predecessor's freed blocks landing inside the successor's
        // measured window. Paying it here, outside every window, costs
        // ~0.1 s/query and makes medians attributable to the query's own
        // plan.
        System.gc()
      }
      teardown()
      val runs = times.map(_.map(f3).getOrElse("null")).mkString("[", ",", "]")
      val cal = calSamples.last
      val med = if (ok.nonEmpty) Some(median(ok)) else None
      // Self-adjudication (see SpreadFlag scaladoc): flag on within-triple
      // spread OR on the load-invariant ratio-vs-committed comparison, with
      // a 0.3 s materiality floor on both (sub-0.3 s spreads are scheduler
      // noise on queries too cheap to matter).
      val spreadSuspect = ok.size >= 2 && ok.min > 0 &&
        ok.max / ok.min > SpreadFlag && ok.max >= 0.3
      val cm = committed.get(name)
      val ratioSuspect = (med, cm) match {
        case (Some(m), Some((cSec, cRatio))) =>
          m / cal > 2 * cRatio && m - cSec >= 0.3
        case _ => false
      }
      val suspect = med.isDefined && (spreadSuspect || ratioSuspect)
      // Re-measure ONCE in a clean window: teardown already ran, an
      // adjacent calibration sample prices the host right now, and the
      // query is warm — a load phantom re-measures at its committed level,
      // a real regression reproduces. Tear down again after, so the
      // recheck's own scratch never lands in the next query's window.
      val (recheckCal, recheckSec) =
        if (suspect) {
          // One EXCLUDED warm pass first (r15, ADVICE): teardown() just
          // cleared memos/cached scratch, and the measured medians
          // exclude re-derivation via their own warm pass — a cold
          // recheck is biased high for memo-heavy queries, deflating
          // suspect_excess_sec and making a load phantom read as a
          // reproduced regression. Then calibrate ADJACENT to the timed
          // run, then measure.
          run()
          val c = calibrate(spark)
          val r = run()
          teardown()
          (Some(c), r)
        } else (None, None)
      val sec = med.map(f3).getOrElse("null")
      val ratio = med.map(m => f3(m / cal)).getOrElse("null")
      val anyFail = warm.isEmpty || ok.size < times.size
      val err = if (anyFail) ",\"err\":true" else ""
      val warmS = warm.map(f3).getOrElse("null")
      val adjudication = if (!suspect) "" else {
        val sb = new StringBuilder(",\"load_suspect\":true")
        recheckSec.foreach(r => sb ++= s""","recheck_sec":${f3(r)}""")
        recheckCal.foreach(c => sb ++= s""","recheck_cal":${f3(c)}""")
        for (r <- recheckSec; c <- recheckCal)
          sb ++= s""","recheck_ratio":${f3(r / c)}"""
        cm.foreach { case (cSec, cRatio) =>
          sb ++= s""","committed_sec":${f3(cSec)},"committed_ratio":${f3(cRatio)}"""
        }
        sb.toString
      }
      emit(s"""{"bench_query":"$name","sec":$sec,"ratio":$ratio,"cal":${f3(cal)},"warm":$warmS,"runs":$runs$err$adjudication}""")
      val excess = if (suspect) {
        for (m <- med; r <- recheckSec) yield math.max(0.0, m - r)
      } else None
      (name, med, anyFail, med.map(_ / cal), suspect, excess)
    }
    val good = results.collect { case (k, Some(v), _, _, _, _) => k -> v }
    val ratios = results.collect { case (k, _, _, Some(r), _, _) => k -> r }.toMap
    val failed = results.collect { case (k, None, _, _, _, _) => k }
    // flaky = succeeded at least once but also threw at least once; the
    // per-query err line can scroll out of the driver's tail, so surface
    // them in the summary too — a 50%-reproducible crash must not read as
    // a green run.
    val flaky = results.collect { case (k, Some(_), true, _, _, _) => k }
    val suspects = results.collect { case (k, _, _, _, true, _) => k }
    val suspectExcess = results.collect {
      case (_, _, _, _, true, Some(e)) => e }.sum
    val slowest = good.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")
    val slowestRatio = good.sortBy(-_._2).take(10)
      .map { case (k, _) => "\"" + k + "\":" + f3(ratios(k)) }
      .mkString("{", ",", "}")
    def names(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = f3(good.map(_._2).sum)
    val calJson = s"""{"med":${f3(median(calSamples.toSeq))},"min":${f3(calSamples.min)},"max":${f3(calSamples.max)},"n":${calSamples.size}}"""
    // Suspect block stays bounded (cap 12 names + count + excess): a
    // uniformly loaded host could flag dozens, and the summary must stay
    // under the driver's tail budget.
    val suspectJson =
      s""""suspect":${names(suspects.take(12))},"n_suspect":${suspects.size},"suspect_excess_sec":${f3(suspectExcess)}"""
    // Summary stays <1.5 KB and is the absolute last stdout line so the
    // driver's tail capture always ends with a complete JSON record.
    emit(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${good.size},"cal":$calJson,"failed":${names(failed)},"flaky":${names(flaky)},$suspectJson,"slowest":$slowest,"slowest_ratio":$slowestRatio}""")
    detail.close()
    mirror.foreach(_.close())
    artifactLog.close()
    spark.stop()
  }
}
