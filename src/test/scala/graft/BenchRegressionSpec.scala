package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench regression gate (VERDICT r12 item 3), in two parts:
  *
  * 1. Comparator unit tests, including the FAILING-BY-CONSTRUCTION case
  *    the verdict asked to see demonstrated: a synthetic 3× ratio
  *    regression MUST be flagged, and the noise shields (one-sidedness,
  *    absolute-delta floor) MUST hold.
  *
  * 2. The live gate: when a fresh local bench detail exists
  *    (`target/bench_detail.jsonl`, written by every `graft.Bench` run)
  *    AND it covers a meaningful slice of the inventory, every common
  *    query is compared against the newest committed
  *    `BENCH_DETAIL_r*_local.jsonl`; any >2× ratio regression that also
  *    slowed ≥0.3 s absolute fails the build, if the query cost ≥0.5 s
  *    in the committed detail or slowed ≥5 s. With no fresh detail the
  *    gate cancels (visible as canceled, never silently green) — it
  *    activates on exactly the runs that can regress.
  */
class BenchRegressionSpec extends AnyFunSuite {

  private def line(q: String, sec: Double, ratio: Double): String =
    s"""{"bench_query":"$q","sec":$sec,"ratio":$ratio,"cal":0.450,"warm":$sec,"runs":[$sec,$sec,$sec]}"""

  test("a 3x ratio regression with real absolute cost is flagged") {
    val old = BenchCompare.parse(Seq(line("q99_x", 1.0, 2.0)))
    val next = BenchCompare.parse(Seq(line("q99_x", 3.1, 6.0)))
    val regs = BenchCompare.regressions(old, next)
    assert(regs.map(_.query) == Seq("q99_x"))
    assert(regs.head.factor > 2.9 && regs.head.factor < 3.1)
  }

  test("getting faster never fails the gate") {
    val old = BenchCompare.parse(Seq(line("q99_x", 6.0, 12.0)))
    val next = BenchCompare.parse(Seq(line("q99_x", 1.0, 2.0)))
    assert(BenchCompare.regressions(old, next).isEmpty)
  }

  test("sub-delta noise on fast queries does not trip the gate") {
    // ratio tripled but the query went 0.05 -> 0.16 s: scheduler jitter,
    // not a plan regression — shielded by the absolute-seconds floor.
    val old = BenchCompare.parse(Seq(line("q01_tiny", 0.05, 0.1)))
    val next = BenchCompare.parse(Seq(line("q01_tiny", 0.16, 0.35)))
    assert(BenchCompare.regressions(old, next).isEmpty)
  }

  test("one-sided presence is never a failure; summary lines are ignored") {
    val old = BenchCompare.parse(Seq(line("q_dropped", 1.0, 2.0),
      """{"metric":"total","value":9.9,"unit":"sec"}"""))
    val next = BenchCompare.parse(Seq(line("q_added", 1.0, 2.0)))
    assert(BenchCompare.regressions(old, next).isEmpty)
    assert(old.keySet == Set("q_dropped") && next.keySet == Set("q_added"))
  }

  test("failed queries (sec null) parse to absent, not zero") {
    val parsed = BenchCompare.parse(Seq(
      """{"bench_query":"q_err","sec":null,"ratio":null,"cal":0.450,"warm":null,"runs":[null],"err":true}"""))
    assert(parsed.isEmpty)
  }

  test("a load-suspect line gates on its recheck, not the inflated median") {
    // r15 (VERDICT item 7): the median records what was measured under
    // load; the clean-window recheck is the number the gate must use, or
    // an adjudicated-and-dismissed phantom could still fail the build.
    val old = BenchCompare.parse(Seq(line("q_x", 1.0, 2.0)))
    val flagged = BenchCompare.parse(Seq(
      """{"bench_query":"q_x","sec":9.0,"ratio":18.0,"cal":0.450,"warm":9.0,""" +
        """"runs":[9.0,9.1,8.9],"load_suspect":true,"recheck_sec":1.05,""" +
        """"recheck_cal":0.450,"recheck_ratio":2.1,"committed_sec":1.0,""" +
        """"committed_ratio":2.0}"""))
    assert(flagged("q_x") == BenchCompare.Entry(2.1, 1.05))
    assert(BenchCompare.regressions(old, flagged).isEmpty)
  }

  test("a load-suspect line with no recheck falls back to the median") {
    val parsed = BenchCompare.parse(Seq(
      """{"bench_query":"q_x","sec":9.0,"ratio":18.0,"cal":0.450,"warm":9.0,""" +
        """"runs":[9.0],"load_suspect":true}"""))
    assert(parsed("q_x") == BenchCompare.Entry(18.0, 9.0))
  }

  test("sub-second committed baselines are not gate-eligible") {
    // r15's live gate went red on q219_observe_metrics 0.129 -> 0.611 s —
    // a >2x ratio move with >0.3 s delta, but on a query whose committed
    // cost sits at the per-job scheduling floor where ratios measure the
    // scheduler, not the plan. The MinBaseSec floor shields it...
    val old = BenchCompare.parse(Seq(line("q219_tiny", 0.129, 0.262)))
    val next = BenchCompare.parse(Seq(line("q219_tiny", 0.611, 1.222)))
    assert(BenchCompare.regressions(old, next).isEmpty)
    // ...while a real 3x regression on a half-second-plus query still fails.
    val old2 = BenchCompare.parse(Seq(line("q_real", 0.9, 1.8)))
    val next2 = BenchCompare.parse(Seq(line("q_real", 2.8, 5.6)))
    assert(BenchCompare.regressions(old2, next2).map(_.query) == Seq("q_real"))
  }

  test("a sub-floor query that slowed by 5 s or more fails the gate") {
    // The MinBaseSec floor must not shield a real regression: 0.13 -> 60 s
    // is a plan that broke, not scheduler jitter.
    val old = BenchCompare.parse(Seq(line("q_tiny", 0.13, 0.26)))
    val next = BenchCompare.parse(Seq(line("q_tiny", 60.0, 120.0)))
    assert(BenchCompare.regressions(old, next).map(_.query) == Seq("q_tiny"))
  }

  test("a sub-floor move below the absolute hatch is listed, not gated") {
    // r15's q219 case: 0.13 -> 0.61 s stays exempt, and classify still
    // reports it so the comparer can print it.
    val old = BenchCompare.parse(Seq(line("q219_tiny", 0.13, 0.26)))
    val next = BenchCompare.parse(Seq(line("q219_tiny", 0.61, 1.22)))
    val (gated, exempt) = BenchCompare.classify(old, next)
    assert(gated.isEmpty)
    assert(exempt.map(_.query) == Seq("q219_tiny"))
  }

  test("a subset bench run writes no cpus-keyed mirror") {
    // A SPARK_GRAFT_BENCH_ONLY spot run must not truncate the mirror a
    // full run left at the same core count.
    assert(Bench.mirrorPath("target/bench_detail.jsonl", "8", subset = true)
      .isEmpty)
    assert(Bench.mirrorPath("target/bench_detail.jsonl", "8", subset = false)
      .contains("target/bench_detail_c8.jsonl"))
  }

  test("metaCpus reads the bench_meta header; absent pre-r15 means 32") {
    val lines = Seq(
      """{"bench_meta":{"sf":"/root/testdata/sf0.1","iters":3,"cpus":8}}""",
      line("q_x", 1.0, 2.0))
    assert(BenchCompare.metaCpus(lines).contains("8"))
    assert(BenchCompare.metaCpus(Seq(line("q_x", 1.0, 2.0))).isEmpty)
  }

  test("metaSf reads the bench_meta header and ignores query lines") {
    val lines = Seq(
      """{"bench_meta":{"sf":"/root/testdata/sf0.01","iters":3,"cpus":32}}""",
      line("q_x", 1.0, 2.0))
    assert(BenchCompare.metaSf(lines).contains("/root/testdata/sf0.01"))
    assert(BenchCompare.metaSf(Seq(line("q_x", 1.0, 2.0))).isEmpty)
    assert(BenchCompare.parse(lines).keySet == Set("q_x"))
  }

  test("live gate: fresh local detail vs newest committed round detail") {
    val fresh = new java.io.File("target/bench_detail.jsonl")
    val committed = Option(new java.io.File(".").listFiles()).toSeq.flatten
      .filter(f => f.getName.matches("BENCH_DETAIL_r\\d+_local\\.jsonl"))
      .sortBy(_.getName)
      .lastOption
    assume(fresh.exists() && committed.nonEmpty,
      "no fresh target/bench_detail.jsonl — gate activates after a bench run")
    def read(f: java.io.File): Seq[String] = {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().toList finally src.close()
    }
    val oldLines = read(committed.get)
    val freshLines = read(fresh)
    // Ratios are only comparable at the same scale factor (r15, ADVICE):
    // a sf0.01 spot run gated against the committed sf0.1 detail compares
    // incomparable ratios. Pre-meta committed files are all sf0.1.
    val oldSf = BenchCompare.metaSf(oldLines)
      .getOrElse("/root/testdata/sf0.1")
    val freshSf = BenchCompare.metaSf(freshLines)
      .getOrElse("/root/testdata/sf0.1")
    assume(oldSf == freshSf,
      s"fresh detail is $freshSf but committed is $oldSf — " +
        "cross-sf ratios are not comparable, gate not meaningful")
    // Ratios are also only comparable at the same CORE COUNT (r16, VERDICT
    // item 3): the driver's 8-core scaling run leaves its detail on the
    // fixed path, and 8-core ratios sit systematically above 32-core ones
    // (the calibration workload is embarrassingly parallel; many inventory
    // queries are not — r15's c8 pass mass-flagged 82 bogus suspects).
    // Pre-meta committed files are all 32-core driver-contract runs.
    val oldCpus = BenchCompare.metaCpus(oldLines).getOrElse("32")
    val freshCpus = BenchCompare.metaCpus(freshLines).getOrElse("32")
    assume(oldCpus == freshCpus,
      s"fresh detail ran at $freshCpus cores but committed at $oldCpus — " +
        "cross-cpus ratios are not comparable, gate not meaningful")
    val old = BenchCompare.parse(oldLines)
    val next = BenchCompare.parse(freshLines)
    // Spot benches (SPARK_GRAFT_BENCH_ONLY) leave tiny details; gating a
    // 3-query spot file against the round artifact is meaningless.
    assume((old.keySet & next.keySet).size >= 25,
      s"fresh detail covers ${(old.keySet & next.keySet).size} common " +
        "queries (<25) — spot bench, gate not meaningful")
    val (regs, exempt) = BenchCompare.classify(old, next)
    exempt.foreach(r => info(s"below floor, not gated: $r"))
    assert(regs.isEmpty,
      s"bench regression vs ${committed.get.getName}:\n  " +
        regs.mkString("\n  "))
  }
}
