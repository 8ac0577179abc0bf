#!/usr/bin/env python3
"""Benchmark entry point.

Usage (from the checkout root):
  python3 perfbench/run.py --workload <name> [--seed 42] [--seconds 10] [--trace 0|1]

Builds the engine and the driver if their sources changed (perfbench/build.py),
runs one workload in one JVM, and prints two JSON lines. The first holds
every end-to-end metric with its unit (also fail_frac and landed_mb, and the
percentile and sample count of op_tail_s) and, per seed, what the outputs
were checked against ("committed" fingerprints or the "first pass"). The
last is
{"correct", "attempted", "failed", "metrics"}: with --trace 0 the metrics are
the end_to_end ones BENCHMARK.json lists, with --trace 1 its per_layer ones.
Exits nonzero when any operation failed or an output did not match.
Details (per-pass values, per-key latencies, every fingerprint) go to
.bench_build/runs/<workload>-<seed>-<trace>/detail.json; a traced run also
writes trace.json there (every span, and the per-layer metrics).

medallion_refresh and mart_queries are not in BENCHMARK.json (see
perfbench/README.md); they run by hand, with --timeout 600.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["medallion_build", "medallion_refresh", "mart_queries", "operator_keys"]
# Corpus scale factor: ScaleGen rows per table = sf x its sf1 row count.
SF = 0.01
HEAP = "3g"
TIMEOUT_S = 170
ROOT = pathlib.Path.cwd()
EXPECTED = pathlib.Path(__file__).resolve().parent / "expected.json"

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64",
    "-XX:-UsePerfData"]  # no hsperfdata file outside the checkout


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=SF)
    ap.add_argument("--no-expected", action="store_true",
                    help="check outputs only against each other, not against expected.json")
    ap.add_argument("--timeout", type=float, default=TIMEOUT_S)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    cp = build.build()
    tag = f"{a.workload}-{a.seed}-{a.trace}"
    out = build.OUT / "runs" / tag
    work = build.OUT / "work" / f"{tag}-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp,
           "perfbench.PerfBench", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--sf", str(a.sf),
           "--work", str(work), "--out", str(out)]
    if not a.no_expected:
        cmd += ["--expected", str(EXPECTED)]
    log = open(out / "driver.log", "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
    try:
        code = p.wait(timeout=a.timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        code = None
    finally:
        log.close()
        shutil.rmtree(work, ignore_errors=True)
    res = out / "result.json"
    if code != 0 or not res.exists():
        sys.stderr.write(f"perfbench: driver {'timed out' if code is None else f'exited {code}'};"
                         f" see {out / 'driver.log'}\n")
        return 1
    result = json.loads(res.read_text())
    detail = json.loads((out / "detail.json").read_text())
    for f in detail["failures"]:
        print(f"FAILED {f}", file=sys.stderr)
    measured = result["per_layer"] if a.trace else result["end_to_end"]
    metrics = {}
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        got = measured.get(m["name"])
        if got is None or got["unit"] != m["unit"] or got["value"] is None:
            sys.stderr.write(f"perfbench: metric {m['name']} [{m['unit']}] not measured: {got}\n")
            return 1
        metrics[m["name"]] = {"value": got["value"], "unit": got["unit"]}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "sf": a.sf,
                      "passes": detail["passes"], "reference": detail["reference"],
                      "end_to_end": result["end_to_end"]}))
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0 if result["correct"] and result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
