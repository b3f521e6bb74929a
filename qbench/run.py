#!/usr/bin/env python3
"""Closed-loop query benchmark of the graft Spark engine.

    python3 qbench/run.py --workload sql_floor --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It compiles the engine (src/main/scala)
together with the runner (qbench/scala) into .bench_build/qbench and starts
one JVM that runs the workload's queries over the fixed tables in
qbench/data/sf<scale> in a closed loop with one client (see
qbench/scala/QBench.scala). The seed sets only the query order. Afterwards
it checks each query's output against its DuckDB oracle and prints, as the
last line of stdout, one JSON object: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1.
The line before it holds what is printed but not gated: failed_frac, the
wall-clock throughput and latencies, the tails' percentile and sample
count, and the host-load probe.

Workloads, scale factors and the reasons for them are in workloads.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "qbench")

JVM_TIMEOUT_S = 165
SETUPS = 3
WARM_PASSES = 2
MEASURED_PASS_ORDERS = 400
CPUS = min(4, os.cpu_count() or 1)
# Five passes give 25 to 30 samples per run: enough for a tail with ten
# samples beyond it, and with an odd number of queries the median falls
# inside one query's cluster of samples, not between two.
MIN_PASSES = 5
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def fail(msg):
    print(f"qbench: {msg}", file=sys.stderr)
    sys.exit(1)


def classpath():
    """The jars of $SPARK_HOME, else of the first spark-submit on PATH that
    sits in a Spark distribution."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if any(os.path.basename(j).startswith("spark-core_") for j in jars):
            return jars
    fail("no Spark distribution found: set SPARK_HOME")


def build(jars):
    """Compiles engine + runner once per distinct source tree."""
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not any(p.endswith("graft/SparkEntry.scala") for p in engine):
        fail("run from the root of a checkout of the engine (src/main/scala is missing)")
    sources = engine + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    digest = hashlib.sha256()
    for p in sources:
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(classes, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    fresh = classes + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(jars),
           "-d", fresh] + sources
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        fail("compile failed:\n" + done.stdout[-4000:])
    with open(os.path.join(fresh, ".stamp"), "w") as f:
        f.write(digest.hexdigest())
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    return classes


def canon(df):
    """Order-free fingerprint of a result, as tools/check.py computes it:
    columns sorted by name, true nulls spelled NULL, md5 of sorted rows."""
    df = df[sorted(df.columns)]
    s = df.astype(str).mask(df.isna(), "NULL")
    rows = sorted(s.values.tolist())
    return len(df), sorted(df.columns), hashlib.md5(str(rows).encode()).hexdigest()


def oracle_mismatches(queries, oracle_sql, dump_dir, data_dir):
    """Names of queries whose dumped Spark output differs from DuckDB's."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    bad = {}
    for q in queries:
        files = sorted(glob.glob(os.path.join(dump_dir, q, "*.parquet")))
        if not files:
            bad[q] = "no output"
            continue
        try:
            spark_side = canon(pd.concat([pd.read_parquet(f) for f in files]))
            duck_side = canon(con.sql(oracle_sql[q]).df())
        except Exception as e:  # a broken oracle or dump is a failed check
            bad[q] = f"check error: {e}"[:200]
            continue
        if spark_side != duck_side:
            bad[q] = f"rows {spark_side[0]} vs {duck_side[0]}"
    con.close()
    return bad


def run_jvm(classes, jars, plan_path, result_path, work):
    # -XX:-UsePerfData keeps the JVM from writing under /tmp.
    cmd = ["java", "-XX:-UsePerfData", f"-XX:ActiveProcessorCount={CPUS}", "-Xmx3g", "-Xss8m",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           f"-Dderby.system.home={work}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", ":".join([classes] + jars), "qbench.QBench", plan_path, result_path]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        # The engine's sinks write below the working directory.
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"query runner exceeded {JVM_TIMEOUT_S} s; log in {log_path}")
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"query runner exited {code}:\n{tail}")


def per_query_mean(execs, fn):
    """Mean of fn over the executions; 0 when there are none, as for the
    streaming metrics of a workload without streams."""
    return sum(fn(e) for e in execs) / len(execs) if execs else 0.0


def end_to_end(res):
    """The gated metrics, from the untraced measured passes, and the
    wall-clock ones, which are printed beside them but not gated (see
    README.md: on a shared host they move with the host's load)."""
    passes = [r for r in res if r["kind"] == "pass"]
    measured = [r for r in res if r["kind"] == "exec" and r["phase"] == "measure"]
    cpu = [r["cpu_ms"] / 1e3 for r in measured]
    cpu_tail, pct, n = stats.tail(cpu)
    latencies = [(r["t2"] - r["t0"]) / 1e3 for r in measured]
    tail_value, _, _ = stats.tail(latencies)
    artifacts = next(r for r in res if r["kind"] == "artifacts")
    gated = {
        "setup_s": (statistics.median(r["setup_s"] for r in res if r["kind"] == "setup")
                    + artifacts["build_s"], "s"),
        "cpu_p50_s": (statistics.median(cpu), "s"),
        "cpu_tail_s": (cpu_tail, "s"),
        "peak_storage_mb": (max(r["storage_mb"] for r in measured), "MB"),
    }
    wall = {
        "throughput_qps": (qps(passes), "1/s"),
        "latency_p50_s": (statistics.median(latencies), "s"),
        "latency_tail_s": (tail_value, "s"),
    }
    return gated, wall, {"percentile": round(pct, 2), "n": n}


def qps(passes):
    """Queries per pass over the median pass wall time."""
    return passes[0]["queries"] / statistics.median(p["wall_s"] for p in passes)


def per_layer(res, artifact_queries):
    """Per-query means over the traced measured executions."""
    traced_passes = {r["pass"] for r in res if r["kind"] == "pass" and r["traced"]}
    measured = [r for r in res if r["kind"] == "exec" and r["phase"] == "measure"]
    execs = [r for r in measured if r["pass"] in traced_passes]
    for e in execs:
        e["jobs"] = json.loads(e["jobs"])
        e["plans"] = json.loads(e["plans"])
    setups = [r for r in res if r["kind"] == "setup"]
    artifacts = next(r for r in res if r["kind"] == "artifacts")
    median_latency = {}
    for e in measured:
        median_latency.setdefault(e["q"], []).append((e["t2"] - e["t0"]) / 1e3)
    median_latency = {q: statistics.median(v) for q, v in median_latency.items()}
    first_warm = [r for r in res if r["kind"] == "exec" and r["phase"] == "warm"
                  and r["pass"] == 0 and r["q"] in artifact_queries]
    streams = [e for e in execs if e["stream_batches"] > 0]
    passes = [r for r in res if r["kind"] == "pass"]
    overhead = qps([p for p in passes if p["traced"]]) / qps([p for p in passes if not p["traced"]])
    latency = [(e["t2"] - e["t0"]) / 1e3 for e in execs]
    task_run = sum(e["task_run_ms"] for e in execs) / 1e3
    tasks = sum(e["tasks"] for e in execs)
    mb = 1048576.0
    m = {
        "tables.register_s": (statistics.median(s["register_s"] for s in setups), "s"),
        "artifacts.build_s": (artifacts["build_s"], "s"),
        "artifacts.pinned_rdds": (artifacts["pinned"], "count"),
        "artifacts.first_run_excess_s": (per_query_mean(
            first_warm, lambda w: (w["t2"] - w["t0"]) / 1e3 - median_latency[w["q"]]), "s"),
        "queries.build_s": (per_query_mean(execs, lambda e: (e["t1"] - e["t0"]) / 1e3), "s"),
        "queries.build_self_s": (per_query_mean(
            execs, lambda e: stats.self_time((e["t0"], e["t1"]), e["jobs"]) / 1e3), "s"),
        "queries.build_jobs": (per_query_mean(
            execs, lambda e: sum(1 for s, _ in e["jobs"] if e["t0"] <= s <= e["t1"])), "count"),
        "plans.plan_s": (per_query_mean(
            execs, lambda e: stats.covered((e["t1"], e["t2"]), e["plans"]) / 1e3), "s"),
        "exec.run_s": (per_query_mean(execs, lambda e: (e["t2"] - e["t1"]) / 1e3), "s"),
        "exec.self_s": (per_query_mean(execs, lambda e: stats.self_time(
            (e["t1"], e["t2"]), e["plans"] + e["jobs"]) / 1e3), "s"),
        "spark.jobs": (per_query_mean(execs, lambda e: len(e["jobs"])), "count"),
        "spark.stages": (per_query_mean(execs, lambda e: e["stages"]), "count"),
        "spark.tasks": (per_query_mean(execs, lambda e: e["tasks"]), "count"),
        "driver.gap_s": (per_query_mean(
            execs, lambda e: stats.self_time((e["t0"], e["t2"]), e["jobs"]) / 1e3), "s"),
        "spark.task_wait_s": (per_query_mean(execs, lambda e: e["task_wait_ms"] / 1e3), "s"),
        "spark.task_run_s": (task_run / len(execs), "s"),
        "spark.task_cpu_s": (per_query_mean(execs, lambda e: e["task_cpu_ns"] / 1e9), "s"),
        "spark.core_util": (task_run / (sum(latency) * CPUS), "1"),
        "spark.gc_s": (per_query_mean(execs, lambda e: e["gc_ms"] / 1e3), "s"),
        "spark.spill_mb": (per_query_mean(execs, lambda e: e["spill_bytes"] / mb), "MB"),
        "spark.shuffle_write_mb": (per_query_mean(execs, lambda e: e["shuffle_write_bytes"] / mb), "MB"),
        "spark.shuffle_read_mb": (per_query_mean(execs, lambda e: e["shuffle_read_bytes"] / mb), "MB"),
        "spark.empty_task_frac": (sum(e["empty_tasks"] for e in execs) / max(tasks, 1), "1"),
        "spark.tasks_failed": (per_query_mean(execs, lambda e: e["tasks_failed"]), "count"),
        "spark.stages_resubmitted": (per_query_mean(execs, lambda e: e["stages_resubmitted"]), "count"),
        "storage.pins_created": (per_query_mean(execs, lambda e: e["pins"]), "count"),
        "stream.batches": (per_query_mean(streams, lambda e: e["stream_batches"]), "count"),
        "stream.input_rows": (per_query_mean(streams, lambda e: e["stream_input_rows"]), "count"),
        "stream.batch_s": (per_query_mean(streams, lambda e: e["stream_batch_ms"] / 1e3), "s"),
        "stream.commit_s": (per_query_mean(streams, lambda e: e["stream_commit_ms"] / 1e3), "s"),
        "stream.state_rows": (per_query_mean(streams, lambda e: e["stream_state_rows"]), "count"),
        "stream.state_mb": (per_query_mean(streams, lambda e: e["stream_state_bytes"] / mb), "MB"),
        "sink.written_mb": (per_query_mean(execs, lambda e: e["output_bytes"] / mb), "MB"),
        "sink.records_written": (per_query_mean(execs, lambda e: e["output_records"]), "count"),
        "harness.teardown_s": (per_query_mean(execs, lambda e: (e["t3"] - e["t2"]) / 1e3), "s"),
        "jvm.cpu_s": (per_query_mean(execs, lambda e: e["jvm_cpu_ms"] / 1e3), "s"),
        "jvm.jit_s": (per_query_mean(execs, lambda e: e["jit_ms"] / 1e3), "s"),
        "codegen.compiles": (per_query_mean(execs, lambda e: e["codegen"]), "count"),
        "trace.overhead_ratio": (overhead, "1"),
    }
    return m, [query_span(e) for e in execs]


def query_span(e):
    """One query's span tree (epoch ms) with the self time of each span."""
    builder, execute, teardown = (e["t0"], e["t1"]), (e["t1"], e["t2"]), (e["t2"], e["t3"])
    return {
        "id": f'{e["pass"]}:{e["q"]}', "span": (e["t0"], e["t3"]),
        "children": {"builder": builder, "execute": execute, "teardown": teardown,
                     "plan": e["plans"], "jobs": e["jobs"]},
        "self_ms": {
            "query": stats.self_time((e["t0"], e["t3"]), [builder, execute, teardown]),
            "builder": stats.self_time(builder, e["jobs"]),
            "execute": stats.self_time(execute, e["plans"] + e["jobs"]),
        },
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)["workloads"]
    if args.workload not in spec:
        fail(f"unknown workload {args.workload!r}; choose from {sorted(spec)}")
    w = spec[args.workload]
    queries = w["queries"]

    clock = [("start", time.time())]
    jars = classpath()
    classes = build(jars)
    clock.append(("build_s", time.time()))
    data_dir = os.path.join(HERE, "data", f"sf{w['sf']}")
    if not os.path.isdir(data_dir):
        fail(f"no tables for scale factor {w['sf']} in {data_dir}")

    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        plan_path = os.path.join(work, "plan.txt")
        warm = stats.pass_orders(queries, args.seed, args.workload + ":warm", WARM_PASSES)
        passes = stats.pass_orders(queries, args.seed, args.workload, MEASURED_PASS_ORDERS)
        with open(plan_path, "w") as f:
            for k, v in [("sf_dir", data_dir), ("work_dir", work), ("cpus", CPUS),
                         ("trace", args.trace), ("setups", SETUPS),
                         ("min_passes", MIN_PASSES), ("seconds", args.seconds)]:
                f.write(f"{k} {v}\n")
            f.write("setup " + " ".join(w.get("artifact_queries", [])) + "\n")
            f.writelines("warm " + " ".join(o) + "\n" for o in warm)
            f.writelines("pass " + " ".join(o) + "\n" for o in passes)
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        result_path = os.path.join(BUILD, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.jsonl")
        run_jvm(classes, jars, plan_path, result_path, work)
        clock.append(("jvm_s", time.time()))
        with open(result_path) as f:
            res = [json.loads(line) for line in f]

        oracle_sql = {r["q"]: r["sql"] for r in res if r["kind"] == "oracle"}
        mismatched = oracle_mismatches(queries, oracle_sql, os.path.join(work, "dump"), data_dir)
        clock.append(("oracle_check_s", time.time()))
        execs = [r for r in res if r["kind"] == "exec"]
        threw = {r["q"]: r["err"] for r in execs if r["err"]}
        attempted = len(execs)
        failed = sum(1 for r in execs if r["err"]) + len(mismatched)
        tail_info, wall = None, {}
        if args.trace:
            metrics, spans = per_layer(res, w.get("artifact_queries", []))
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            with open(os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.jsonl"), "w") as f:
                f.writelines(json.dumps(sp) + "\n" for sp in spans)
        else:
            metrics, wall, tail_info = end_to_end(res)
        probes = {r["when"]: r["s"] for r in res if r["kind"] == "probe"}
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "sf": w["sf"], "cpus": CPUS,
            "failed_frac": {"value": failed / attempted, "unit": "1"},
            **{k: {"value": v, "unit": u} for k, (v, u) in wall.items()},
            "tail": tail_info,
            "measured_passes": sum(1 for r in res if r["kind"] == "pass"),
            "warm_pass_s": [r["wall_s"] for r in res if r["kind"] == "warm"],
            "host_probe_s": probes,
            "wall_s": {k: round(t - clock[i][1], 2) for i, (k, t) in enumerate(clock[1:])},
            "threw": threw, "oracle_mismatch": mismatched,
        }))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
