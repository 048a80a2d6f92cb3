#!/usr/bin/env python3
"""Steadiness check: runs each workload once per seed, untraced, and
reports for every end-to-end metric the median and the quartile spread
(q3 - q1) / median, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workloads ingest,serve \
        --seeds 1-10 --out perfbench/results/steady.json

Run from the repository root. A metric is steady when its spread stays
below a third of its bound (setup_s is reported but not held to it).
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    secs = bench["run_seconds"]
    report = {"run_seconds": secs, "workloads": {}}
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            t0 = time.time()
            out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                  "--seed", str(s), "--seconds", str(secs), "--trace", "0"],
                                 stdout=subprocess.PIPE, text=True)
            wall = time.time() - t0
            if out.returncode != 0:
                sys.exit(f"{w} seed {s}: run failed")
            r = json.loads(out.stdout.strip().splitlines()[-1])
            runs.append({"seed": s, "process_s": round(wall, 1), "correct": r["correct"],
                         "attempted": r["attempted"], "failed": r["failed"],
                         "metrics": {k: v["value"] for k, v in r["metrics"].items()}})
            print(f"{w} seed {s}: {wall:.0f}s correct={r['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
        summary = {}
        for name in bounds:
            vals = [r["metrics"][name] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
            med = statistics.median(vals)
            summary[name] = {"median": med, "q1": q1, "q3": q3,
                             "spread": (q3 - q1) / med, "bound": bounds[name]}
            print(f"  {name:18s} median={med:10.4g} spread={(q3 - q1) / med:6.3f} "
                  f"bound={bounds[name]}")
        report["workloads"][w] = {"summary": summary, "runs": runs,
                                  "process_s_total": round(sum(r["process_s"] for r in runs), 1)}
    Path(a.out).write_text(json.dumps(report, indent=1) + "\n")


if __name__ == "__main__":
    main()
