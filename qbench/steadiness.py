#!/usr/bin/env python3
"""Runs the benchmark once per seed and prints each metric's spread.

    python3 qbench/steadiness.py --workload sql_floor --seeds 101-110

Run from the root of a checkout. The spread is the distance between the
first and third quartile of the per-seed values, as a share of their median
(statistics.quantiles, n=4). The per-run result lines go to
.bench_build/qbench/steadiness/<workload>-trace<t>.jsonl and the summary is
printed as one JSON object.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def seed_range(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seed_range, required=True, help="e.g. 101-110")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    out_dir = os.path.join(".bench_build", "qbench", "steadiness")
    os.makedirs(out_dir, exist_ok=True)
    runs = []
    with open(os.path.join(out_dir, f"{args.workload}-trace{args.trace}.jsonl"), "w") as log:
        for seed in args.seeds:
            done = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                 "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
                stdout=subprocess.PIPE, text=True)
            if done.returncode != 0:
                sys.exit(f"seed {seed}: run.py exited {done.returncode}")
            diag, result = (json.loads(line) for line in done.stdout.strip().split("\n")[-2:])
            runs.append(result)
            log.write(json.dumps({"seed": seed, "diagnostics": diag, "result": result}) + "\n")
            log.flush()
    summary = {}
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        summary[name] = {
            "median": statistics.median(values),
            "spread": stats.spread(values) if statistics.median(values) else None,
            "min": min(values), "max": max(values),
        }
    print(json.dumps({"workload": args.workload, "seeds": args.seeds,
                      "all_correct": all(r["correct"] for r in runs), "metrics": summary}))


if __name__ == "__main__":
    main()
