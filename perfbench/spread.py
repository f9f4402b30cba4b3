#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
median, quartiles and spread (quartile distance / median) against its bound.

    python3 perfbench/spread.py --seeds 1-10 [--workload maef_cli ...] [--out FILE]

The spread is computed the way a regression gate reads it:
statistics.quantiles(values, n=4). Runs are sequential; nothing else should
run on the machine meanwhile.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values, bound):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
            "bound": bound, "values": values}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seeds", required=True, help="e.g. 1-10")
    p.add_argument("--workload", action="append",
                   help="default: every workload in BENCHMARK.json")
    p.add_argument("--out")
    a = p.parse_args()
    report = {}
    for w in a.workload or [x["name"] for x in bench["workloads"]]:
        runs = []
        for s in seeds(a.seeds):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(s),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            if out.returncode != 0:
                sys.exit(f"{w} seed {s} failed:\n{out.stderr[-2000:]}")
            line = json.loads(out.stdout.strip().splitlines()[-1])
            print(out.stdout.strip().splitlines()[-2], flush=True)
            runs.append(line)
        report[w] = {
            "correct": all(r["correct"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "attempted": sum(r["attempted"] for r in runs),
            "metrics": {m["name"]: summarize([r["metrics"][m["name"]]["value"] for r in runs],
                                             m["bound"]) for m in bench["end_to_end"]}}
        for name, m in report[w]["metrics"].items():
            print(f"{w:14s} {name:12s} median {m['median']:10.4f}  spread {m['spread']:.3f}"
                  f"  (bound {m['bound']})", flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
