#!/usr/bin/env python3
"""Traced-run artifact: per-layer metrics for every workload, tracing
overhead, and the single-thread baseline.

    python3 perfbench/trace_report.py --seed 7 --out perfbench/results

Run from the repository root. For each workload it makes one untraced
and one traced run with the same seed, and prints the untraced run's
end-to-end metrics with unit and sample count. The per-layer table
comes from the traced run, and the overhead of tracing is the traced
run's end-to-end figure over the untraced one's, minus one. It then makes one
untraced `local[1]` run of `ingest` and `bi`, the single-thread baseline
(recorded once, not gated). Writes traced.json (every figure with its
sample count, and the traced runs' spans) and TRACED.md (tables).
"""
import argparse
import json
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

WORKLOADS = ["ingest", "serve", "bi", "corpus"]


def run(workload, seed, seconds, trace, master=None):
    with tempfile.NamedTemporaryFile(suffix=".json", dir=".bench_build") as f:
        cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(trace), "--report", f.name]
        if master:
            cmd += ["--master", master]
        subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
        return json.loads(Path(f.name).read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--out", default="perfbench/results")
    a = ap.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    out = Path(a.out)
    secs = bench["run_seconds"]
    Path(".bench_build").mkdir(exist_ok=True)
    rec = {"seed": a.seed, "run_seconds": secs, "workloads": {}, "single_thread": {}}
    for w in WORKLOADS:
        plain = run(w, a.seed, secs, 0)
        traced = run(w, a.seed, secs, 1)
        rec["workloads"][w] = {"untraced": plain, "traced": traced}
        print(f"{w}: correct={not plain['failures']} failed={plain['failed']}/"
              f"{plain['attempted']} setup_s={e2e(plain)['setup_s']:.4g} s "
              f"(n={len(plain['setup_s'])}) " + " ".join(
                  f"{k}={v['value']:.4g} {v['unit']} (n={v['n']})"
                  for k, v in plain["e2e"].items()), flush=True)
        print(f"{w}: tracing overhead " + " ".join(
            f"{k}={v:+.1%}" for k, (_, _, v) in overhead(plain, traced).items()), flush=True)
    for w in ("ingest", "bi"):
        rec["single_thread"][w] = run(w, a.seed, secs, 0, master="local[1]")
    out.mkdir(parents=True, exist_ok=True)
    (out / "traced.json").write_text(json.dumps(rec, indent=1) + "\n")
    render(bench, rec, out)


def e2e(run_rec):
    """End-to-end figures of one run record, set-up median included."""
    figs = {k: v["value"] for k, v in run_rec["e2e"].items()}
    figs["setup_s"] = statistics.median(run_rec["setup_s"])
    return figs


def overhead(plain, traced):
    """metric -> (untraced, traced, traced / untraced - 1)."""
    p, t = e2e(plain), e2e(traced)
    return {k: (p[k], t[k], t[k] / p[k] - 1) for k in p if p[k]}


def render(bench, rec, out):
    ws = list(rec["workloads"])
    md = ["# Traced run", "",
          f"Seed {rec['seed']}, {rec['run_seconds']} s runs, 4-core host. Per-layer figures "
          "from the traced run (value, with the sample count in brackets); a layer a "
          "workload does not exercise shows `-`. Regenerate with "
          "`python3 perfbench/trace_report.py`.", "",
          "| metric | unit | " + " | ".join(ws) + " |", "|---|---|" + "---|" * len(ws)]
    for m in bench["per_layer"]:
        cells = []
        for w in ws:
            got = rec["workloads"][w]["traced"]["layers"].get(m["name"])
            cells.append(f"{got['value']:.4g} ({got['n']})" if got else "-")
        md.append(f"| {m['name']} | {m['unit']} | " + " | ".join(cells) + " |")
    md += ["", "## End-to-end, untraced vs traced (tracing overhead)", "",
           "| workload | metric | untraced | traced | overhead |", "|---|---|---|---|---|"]
    for w in ws:
        r = rec["workloads"][w]
        for k, (p, t, o) in overhead(r["untraced"], r["traced"]).items():
            md.append(f"| {w} | {k} | {p:.4g} | {t:.4g} | {o:+.1%} |")
    md += ["", "## Single-thread baseline (local[1], untraced, not gated)", "",
           "| workload | metric | local[1] | local[n] |", "|---|---|---|---|"]
    for w, r in rec["single_thread"].items():
        n = e2e(rec["workloads"][w]["untraced"])
        for k, v in e2e(r).items():
            md.append(f"| {w} | {k} | {v:.4g} | {n[k]:.4g} |")
    (out / "TRACED.md").write_text("\n".join(md) + "\n")


if __name__ == "__main__":
    main()
