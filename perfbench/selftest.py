#!/usr/bin/env python3
"""Self-test of the benchmark on a tiny corpus.

Usage (from the checkout root): python3 perfbench/selftest.py [--sf 0.001] [workload ...]

Runs every workload (default: all four, also the two BENCHMARK.json does not
list) for one traced pass, with outputs checked against each other only
(expected.json holds fingerprints at the benchmark's sf, not the self-test's),
and checks that
  - the run succeeds, with correct=true and no failed operation; the one
    exception is the known defect below, which is reported but does not fail
    the self-test;
  - every end_to_end and per_layer metric of BENCHMARK.json is printed, with
    its unit;
  - the trace is well formed: every span's parent exists, each child lies
    within its parent, no self time is negative, and every Spark job is
    attributed to exactly one operation.
Last, it checks that the benchmark refuses to run, without printing a
result, in a directory that holds only BENCHMARK.json and perfbench/.
Exits nonzero when any check fails.

Known defect: on medallion_refresh the refreshed fct_customer_orders differs
from a cold build over the same raw rows (perfbench/README.md, "Found
defect"). The run then reports correct=false and exits 1; the self-test
prints the mismatch as "known defect" and still applies every other check.
"""
import argparse
import json
import pathlib
import shutil
import subprocess
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402

# (workload, table) pairs whose output mismatch is a known engine defect
KNOWN_DEFECTS = {("medallion_refresh", "fct_customer_orders")}
OP_KINDS = {"queries.op", "plans.run", "ecom.raw", "ecom.landing", "sources.gen", "fixture", "check"}


def covered(intervals, lo, hi):
    total, cur = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b > cur:
            total += b - max(a, cur)
            cur = b
    return total


def check_trace(spans):
    errors = []
    by = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        if s["parent"]:
            if s["parent"] not in by:
                errors.append(f"{s['id']} ({s['kind']}): parent {s['parent']} missing")
                continue
            p = by[s["parent"]]
            children.setdefault(p["id"], []).append(s)
            if s["start"] < p["start"] or s["end"] > p["end"]:
                errors.append(f"{s['id']} [{s['start']}, {s['end']}] outside parent "
                              f"{p['id']} [{p['start']}, {p['end']}]")
        if s["end"] < s["start"]:
            errors.append(f"{s['id']}: ends before it starts")
    for s in spans:
        kids = children.get(s["id"], [])
        own = (s["end"] - s["start"]) - covered([(k["start"], k["end"]) for k in kids],
                                                s["start"], s["end"])
        if own < 0:
            errors.append(f"{s['id']}: negative self time {own}")
    for s in spans:
        if s["kind"] == "spark.job":
            op = by.get(s["op"])
            if op is None or op["kind"] not in OP_KINDS:
                errors.append(f"{s['id']}: attributed to no operation ({s['op']})")
    return errors


def run_workload(w, sf, spec):
    """Returns (errors, known defects seen)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", w, "--seed", "42", "--seconds", "0",
           "--trace", "1", "--sf", str(sf), "--no-expected", "--timeout", "900"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if len(lines) < 2:
        return [f"run failed (exit {r.returncode}): {r.stdout[-2000:]}"], []
    first, last = json.loads(lines[-2]), json.loads(lines[-1])
    detail = json.loads((build.OUT / "runs" / f"{w}-42-1" / "detail.json").read_text())
    known = [f for f in detail["failures"]
             if any(w == kw and t in f for kw, t in KNOWN_DEFECTS)]
    unknown = [f for f in detail["failures"] if f not in known]
    errors = [f"failed: {f}" for f in unknown]
    if set(last) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(last)}")
    if last["attempted"] < 1 or last["correct"] != (not detail["failures"]):
        errors.append(f"correct={last['correct']} attempted={last['attempted']}"
                      f" with {len(detail['failures'])} failures")
    if (r.returncode == 0) != last["correct"]:
        errors.append(f"exit {r.returncode} with correct={last['correct']}")
    for section, got in (("end_to_end", first["end_to_end"]), ("per_layer", last["metrics"])):
        for m in spec[section]:
            g = got.get(m["name"])
            if g is None or g.get("unit") != m["unit"] or not isinstance(g.get("value"), (int, float)):
                errors.append(f"{section} metric {m['name']} [{m['unit']}]: got {g}")
    trace = json.loads((build.OUT / "runs" / f"{w}-42-1" / "trace.json").read_text())
    errors += check_trace(trace["spans"])
    return errors, known


def check_bare():
    """In a directory with only BENCHMARK.json and perfbench/, the benchmark
    must exit nonzero without printing a result line."""
    bare = build.OUT / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(build.ROOT / "BENCHMARK.json", bare)
    shutil.copytree(pathlib.Path(__file__).resolve().parent, bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "operator_keys",
                        "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    if r.returncode == 0 or '"metrics"' in r.stdout:
        return [f"bare directory: exit {r.returncode}, stdout {r.stdout[-500:]!r}"]
    return []


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=0.001)
    ap.add_argument("workloads", nargs="*", default=run.WORKLOADS)
    a = ap.parse_args()
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    failed = False
    for w in a.workloads:
        errors, known = run_workload(w, a.sf, spec)
        print(f"{'ok  ' if not errors else 'FAIL'} {w}")
        for e in errors[:20]:
            print(f"      {e}")
        for f in known[:5]:
            print(f"      known defect: {f}")
        failed |= bool(errors)
    errors = check_bare()
    print(f"{'ok  ' if not errors else 'FAIL'} bare directory refuses to run")
    for e in errors:
        print(f"      {e}")
    return 1 if failed or errors else 0


if __name__ == "__main__":
    sys.exit(main())
