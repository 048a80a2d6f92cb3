#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
        [--master local[N]] [--conf key=value]... [--plant-drop-row QUERY]

Run from the repository root. Builds graft and the benchmark from
source into .bench_build (perfbench/build.py), generates the workload's
inputs from the seed (perfbench/gen.py), runs the workload in its own
JVM (perfbench.Main), checks the outputs against independent oracles
(perfbench/check.py) and prints, as its last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
the per-layer ones. The line before it lists every metric with its
sample count.

--master, --conf and --plant-drop-row exist for the self-tests in
perfbench/tests: a session setting the workload runs under, and a
result row dropped before the oracle compare.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# ingest and serve are the gated workloads of BENCHMARK.json; bi and
# corpus run the query lists alone, for the traced-run artifact and the
# self-tests (see DESIGN.md).
WORKLOADS = ("ingest", "serve", "bi", "corpus")
# Input scale per workload: sf 0.1 is graft.Bench's scale. The corpus
# workload runs on a smaller document/embedding corpus so its set-up
# (the fit-once artifacts) and pass fit one run.
SCALE = {"ingest": 0.1, "serve": 0.1, "bi": 0.1, "corpus": 0.02}
TABLES = {"ingest": ["events"], "serve": None, "bi": None, "corpus": None}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", default=None)
    ap.add_argument("--conf", action="append", default=[])
    ap.add_argument("--plant-drop-row", default=None)
    ap.add_argument("--report", default=None,
                    help="also write every measured figure, with sample counts, to this JSON file")
    a = ap.parse_args()

    root = Path.cwd()
    if not (root / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("perfbench: run from the root of a graft checkout (src/main/scala/graft missing)")
    bench = json.loads(Path("BENCHMARK.json").read_text())
    out = root / ".bench_build"
    out.mkdir(exist_ok=True)

    t0 = time.time()
    cp = build.build(out)
    log(f"build ready in {time.time() - t0:.1f}s")

    sf = SCALE[a.workload]
    tables = TABLES[a.workload]
    data = out / "data" / f"seed{a.seed}-sf{sf}-{'-'.join(tables) if tables else 'all'}"
    if not (data / "done").exists():
        shutil.rmtree(data, ignore_errors=True)
        gen.generate(data, a.seed, sf, tables)
        (data / "done").write_text("")
    if a.workload == "ingest":
        gen.replay(data)
    log(f"inputs ready at {time.time() - t0:.1f}s")

    work = out / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # Class-data archive of the classes this workload's JVM loads (JDK
    # AppCDS), keyed by workload and by the jar it was made with (the JVM
    # ignores an archive whose jar changed): the first run of a workload
    # on a build writes it at exit, later runs map it and start about 4 s
    # sooner.
    jar = (out / "classes.jar").stat()
    cds = out / f"cds-{a.workload}-{jar.st_mtime_ns:x}-{jar.st_size:x}.jsa"
    cds_new = work / "cds.jsa"
    cds_flag = (f"-XX:SharedArchiveFile={cds}" if cds.exists()
                else f"-XX:ArchiveClassesAtExit={cds_new}")
    cmd = (["java", cds_flag, "-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", a.workload, str(data), str(work), str(a.seed),
              str(a.seconds), str(a.trace)])
    if a.master:
        cmd += ["--master", a.master]
    for c in a.conf:
        cmd += ["--conf", c]
    jvm_log = work / "jvm.log"
    with open(jvm_log, "w") as f:
        try:
            rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                                timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        tail = jvm_log.read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        sys.exit(f"perfbench: workload JVM failed ({rc})")

    if cds_new.exists():
        cds_new.replace(cds)
    for line in jvm_log.read_text(errors="replace").splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    log(f"workload JVM done at {time.time() - t0:.1f}s")
    res = json.loads((work / "result.json").read_text())
    failures = list(res["failures"])
    failed = res["failed"]
    if a.workload in ("serve", "bi", "corpus"):
        wrong = check.queries(work, res["checks"], data, a.plant_drop_row)
        per_query = int(res["checks"]["executions_per_query"])
        failed += per_query * len(wrong)
        failures += [f"{q}: {why}" for q, why in wrong.items()]
    if a.workload == "serve":
        wrong = check.dashboard(res["checks"], data)
        failed += len(wrong)
        failures += wrong
    log(f"checks done at {time.time() - t0:.1f}s")
    for f in failures:
        log(f"FAILED {f}")

    metrics = {}
    counts = {}
    if a.trace == 0:
        setup = res["setup_s"]
        for m in bench["end_to_end"]:
            name = m["name"]
            if name == "setup_s":
                v, n = statistics.median(setup), len(setup)
            else:
                v, n = res["e2e"][name]["value"], res["e2e"][name]["n"]
            metrics[name] = {"value": v, "unit": m["unit"]}
            counts[name] = n
    else:
        for m in bench["per_layer"]:
            got = res["layers"].get(m["name"])
            metrics[m["name"]] = {"value": got["value"] if got else 0, "unit": m["unit"]}
            counts[m["name"]] = got["n"] if got else 0
    print("metrics: " + ", ".join(
        f"{k}={v['value']:.6g} {v['unit']} (n={counts[k]})" for k, v in metrics.items()))
    if a.report:
        sp = work / "spans.jsonl"
        spans = [json.loads(x) for x in sp.read_text().splitlines()] if sp.exists() else []
        Path(a.report).write_text(json.dumps({
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "master": a.master, "conf": a.conf, "setup_s": res["setup_s"], "e2e": res["e2e"],
            "layers": res["layers"], "attempted": res["attempted"], "failed": failed,
            "failures": failures, "spans": spans}, indent=1))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": int(res["attempted"]),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
