package graft

/** Round-over-round bench REGRESSION GATE (r13, VERDICT item 3).
  *
  * r12 proved regressions land silently without a gate in the build (five
  * queries got 1.3–1.7× slower and only the judge noticed). This compares
  * per-query calibration RATIOS, the host-load-invariant number, and is
  * wired into ScalaTest
  * (`BenchRegressionSpec`): after any local bench run that leaves
  * `target/bench_detail.jsonl`, `sbt test` fails if a query regressed more
  * than [[DefaultThreshold]]× vs the newest committed
  * `BENCH_DETAIL_r*_local.jsonl`.
  *
  * Gate semantics (deliberately one-sided and noise-hardened):
  *   - only SLOWER counts — getting faster is never a failure;
  *   - sub-second noise doesn't trip it: a flagged query must also be at
  *     least [[MinDeltaSec]] slower in absolute seconds, because a 0.05 →
  *     0.12 s scalar query is scheduler jitter, not a plan regression;
  *   - a query under [[MinBaseSec]] in the committed baseline is exempt
  *     (printed, not failed) unless it slowed by [[MaxDeltaSec]] or more;
  *   - queries present on only one side are reported, never failed
  *     (inventory growth is normal; a DROPPED query is Verify's job).
  *
  * Also runnable standalone: `sbt "runMain graft.BenchCompare old.jsonl
  * new.jsonl"` — exits 1 on regression. It is the repo's one comparer.
  */
object BenchCompare {

  val DefaultThreshold = 2.0
  val MinDeltaSec = 0.3

  /** Gate-eligibility floor on the COMMITTED seconds (r16, VERDICT item 5):
    * r15's live gate went red on q219_observe_metrics at 0.129 → 0.611 s —
    * scheduler-jitter territory on a 0.13 s query under a calibration burst,
    * yet it cleared the 0.3 s delta floor. A query must have cost at least
    * this much in the committed baseline before a ratio move can fail the
    * build; sub-half-second queries live at the per-job scheduling floor
    * (OPTIMIZATION_r15 §1: 250 queries <0.5 s, coreUtil ≤0.05) where ratios
    * measure the scheduler, not the plan. */
  val MinBaseSec = 0.5

  /** Escape hatch from [[MinBaseSec]]: a query that slowed by at least this
    * many absolute seconds is gate-eligible whatever its committed cost, so
    * a sub-half-second query that turns into a multi-second one (a real
    * plan regression, not scheduler jitter) still fails the build. */
  val MaxDeltaSec = 5.0

  final case class Entry(ratio: Double, sec: Double)
  final case class Regression(
      query: String, oldRatio: Double, newRatio: Double,
      oldSec: Double, newSec: Double) {
    def factor: Double = newRatio / oldRatio
    override def toString: String =
      f"$query: ratio $oldRatio%.3f -> $newRatio%.3f ($factor%.2fx SLOWER; " +
        f"sec $oldSec%.3f -> $newSec%.3f)"
  }

  /** Minimal field extraction — the detail lines are flat JSON objects we
    * write ourselves; a full JSON parser is not warranted for two numeric
    * fields and a name (and build.sbt deliberately has no JSON dep). */
  private def field(line: String, name: String): Option[String] = {
    val k = "\"" + name + "\":"
    val i = line.indexOf(k)
    if (i < 0) return None
    val rest = line.substring(i + k.length)
    if (rest.startsWith("\"")) {
      val j = rest.indexOf('"', 1)
      if (j < 0) None else Some(rest.substring(1, j))
    } else {
      val j = rest.indexWhere(c => c == ',' || c == '}')
      if (j < 0) None else Some(rest.substring(0, j))
    }
  }

  /** Parse a detail file's lines into query → (ratio, sec); tolerates the
    * summary line, failed queries ("sec":null) and truncated tails, like
    * the python tool.
    *
    * ADJUDICATION-AWARE (r15, VERDICT item 7): a line the bench flagged
    * `load_suspect` carries a clean-window re-measurement
    * (`recheck_sec`/`recheck_ratio`); for GATING, that is the honest
    * number — the median was measured under host load, and failing the
    * build on it would re-litigate exactly the phantom class the
    * adjudication protocol exists to dismiss (r12 q11, r13 q324). The
    * detail artifact keeps the median as the record of what was measured;
    * this parser substitutes the recheck only where one exists. */
  def parse(lines: Seq[String]): Map[String, Entry] =
    lines.flatMap { line =>
      val suspect = field(line, "load_suspect").contains("true")
      def num(name: String): Option[Double] =
        field(line, name).filter(_ != "null").map(_.toDouble)
      for {
        q <- field(line, "bench_query")
        r <- (if (suspect) num("recheck_ratio") else None).orElse(num("ratio"))
        s <- (if (suspect) num("recheck_sec") else None).orElse(num("sec"))
      } yield q -> Entry(r, s)
    }.toMap

  /** The run's scale factor from the `bench_meta` header line (r15);
    * absent for pre-r15 committed details, which are all full sf0.1 runs. */
  def metaSf(lines: Seq[String]): Option[String] =
    lines.flatMap(l =>
      if (l.contains("\"bench_meta\"")) field(l, "sf") else None).headOption

  /** The run's core count from the `bench_meta` header line (r16); absent
    * for pre-r15 committed details, which are all 32-core driver-contract
    * runs. Ratios are not comparable across core counts: the calibration
    * workload is embarrassingly parallel while many inventory queries are
    * not, so an 8-core run's ratios sit systematically above a 32-core
    * run's (r15: the driver's c8 pass mass-flagged 82 bogus suspects). */
  def metaCpus(lines: Seq[String]): Option[String] =
    lines.flatMap(l =>
      if (l.contains("\"bench_meta\"")) field(l, "cpus") else None).headOption

  /** Common queries whose ratio regressed more than `threshold`× AND
    * slowed by at least [[MinDeltaSec]] absolute seconds, split into those
    * the gate fails (`_1`) and those exempt by the [[MinBaseSec]] floor
    * (`_2`, printed but never failed). A query is gate-eligible when it
    * cost at least [[MinBaseSec]] in the committed baseline or slowed by at
    * least [[MaxDeltaSec]]. */
  def classify(old: Map[String, Entry], next: Map[String, Entry],
      threshold: Double = DefaultThreshold): (Seq[Regression], Seq[Regression]) =
    (old.keySet & next.keySet).toSeq.sorted.flatMap { q =>
      val (o, n) = (old(q), next(q))
      if (o.ratio > 0 && n.ratio > o.ratio * threshold &&
          n.sec - o.sec >= MinDeltaSec)
        Some(Regression(q, o.ratio, n.ratio, o.sec, n.sec))
      else None
    }.sortBy(-_.factor).partition(r =>
      r.oldSec >= MinBaseSec || r.newSec - r.oldSec >= MaxDeltaSec)

  /** The gate: the regressions [[classify]] does not exempt. */
  def regressions(old: Map[String, Entry], next: Map[String, Entry],
      threshold: Double = DefaultThreshold): Seq[Regression] =
    classify(old, next, threshold)._1

  def main(args: Array[String]): Unit = {
    val threshold =
      if (args.length > 2) args(2).toDouble else DefaultThreshold
    def read(p: String): Seq[String] = {
      val src = scala.io.Source.fromFile(p)
      try src.getLines().toList finally src.close()
    }
    val old = parse(read(args(0)))
    val next = parse(read(args(1)))
    val (regs, exempt) = classify(old, next, threshold)
    println(s"compared ${(old.keySet & next.keySet).size} queries " +
      s"(old=${old.size}, new=${next.size}, threshold=${threshold}x, " +
      s"minDelta=${MinDeltaSec}s, minBase=${MinBaseSec}s, " +
      s"maxDelta=${MaxDeltaSec}s)")
    regs.foreach(r => println(s"  REGRESSION $r"))
    exempt.foreach(r => println(s"  below floor, not gated: $r"))
    if (regs.isEmpty) println("  no query regressed past the gate")
    if (regs.nonEmpty) sys.exit(1)
  }
}
