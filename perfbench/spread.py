#!/usr/bin/env python3
"""Run-to-run spread of the benchmark's end-to-end metrics.

Usage (from the repository root):

    python3 perfbench/spread.py --workload policy_heavy --seeds 1-10 [--seconds N]

Runs the workload once per seed and prints, for each metric, the median of
the runs and the distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of that median, next to
the metric's bound in BENCHMARK.json. Each run's result line is appended
to `--out` (default: the build directory's spread.jsonl).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                                                  "perfbench", "spread.jsonl"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    values = {}
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    for s in seeds(args.seeds):
        proc = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", args.workload,
                               "--seed", str(s), "--seconds", str(seconds), "--trace", str(args.trace)],
                              cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print("seed %d: run failed (exit %d)" % (s, proc.returncode))
            continue
        res = json.loads(lines[-1])
        with open(args.out, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": s, "result": res,
                                "notes": [l for l in lines if l.startswith("#")]}) + "\n")
        print("seed %d: correct=%s attempted=%d failed=%d" % (s, res["correct"], res["attempted"], res["failed"]))
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    print("%-28s %6s %14s %9s %7s" % ("metric", "runs", "median", "iqr/med", "bound"))
    for name, vs in values.items():
        vs = [v for v in vs if v is not None]
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print("%-28s %6d %14.4f %9.3f %7s" % (name, len(vs), med, spread, bounds.get(name)))


if __name__ == "__main__":
    main()
