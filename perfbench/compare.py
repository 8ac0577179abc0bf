#!/usr/bin/env python3
"""Paired comparison of two commits on the benchmark.

Run pairs (each side a checkout with the same perfbench/):
  python3 perfbench/compare.py --base ../parent --change . [--pairs 10] \
      [--workloads medallion_build,operator_keys] [--seed0 1000] [--out pairs.json]
Report again from saved pairs:
  python3 perfbench/compare.py --pairs-file pairs.json
Diff the per-layer metrics of two traced runs (trace.json or result lines):
  python3 perfbench/compare.py --layers base/trace.json change/trace.json

Pair i runs both sides on seed seed0+i, base first on even i and change
first on odd i. For every workload and end-to-end metric it prints each
side's median and quartiles, the share of pairs the change won (ties count
for neither), and a verdict:
  unresolved  the base's own spread (quartile distance / median) exceeds the
              metric's bound, unless every change run beats every base run;
  worse       the change's median is worse than the base's by more than the bound;
  better      the change won at least 9/10 of the pairs and the medians differ
              by more than the base's quartile distance;
  same        otherwise.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def run_side(root, workload, seed, seconds, trace=0):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=root, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if not lines:
        return {"exit": r.returncode}
    res = json.loads(lines[-1])
    res["exit"] = r.returncode
    return res


def verdict(base, change, bound, lower_better):
    q1, med, q3 = quartiles(base)
    spread = (q3 - q1) / med if med else float("inf")
    sign = 1 if lower_better else -1
    worse_by = sign * (statistics.median(change) - med) / med if med else 0.0
    all_better = all(sign * (c - b) < 0 for c in change for b in base)
    if spread > bound and not all_better:
        return "unresolved", spread, worse_by
    if worse_by > bound:
        return "worse", spread, worse_by
    return None, spread, worse_by


def report(spec, pairs):
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    print(f"{'workload':18} {'metric':13} {'base med [q1,q3]':>28} {'change med [q1,q3]':>28}"
          f" {'ratio':>7} {'wins':>6} {'spread':>7}  verdict")
    for w in sorted({p["workload"] for p in pairs}):
        ps = [p for p in pairs if p["workload"] == w]
        fails = sum(p[s].get("failed", 1) for p in ps for s in ("base", "change"))
        for name, m in bounds.items():
            xs = [(p["base"]["metrics"][name]["value"], p["change"]["metrics"][name]["value"])
                  for p in ps if "metrics" in p["base"] and "metrics" in p["change"]]
            if not xs:
                continue
            base, change = [b for b, _ in xs], [c for _, c in xs]
            lower = m["better"] == "lower"
            wins = sum(1 for b, c in xs if (c < b if lower else c > b))
            decided = sum(1 for b, c in xs if c != b)
            v, spread, _ = verdict(base, change, m["bound"], lower)
            bq, cq = quartiles(base), quartiles(change)
            if v is None:
                v = ("better" if decided and wins >= 0.9 * len(xs)
                     and abs(cq[1] - bq[1]) > bq[2] - bq[0] else "same")
            print(f"{w:18} {name:13} {bq[1]:10.4g} [{bq[0]:.4g},{bq[2]:.4g}]"
                  f"{'':>2} {cq[1]:10.4g} [{cq[0]:.4g},{cq[2]:.4g}]"
                  f" {cq[1] / bq[1] if bq[1] else float('nan'):7.3f} {wins:3d}/{len(xs):<2d}"
                  f" {spread:7.3f}  {v}")
        print(f"{w:18} {'failed ops':13} {fails} over {len(ps)} pairs")


def layer_metrics(path):
    text = pathlib.Path(path).read_text()
    try:
        d = json.loads(text)
    except json.JSONDecodeError:
        d = json.loads(text.strip().splitlines()[-1])
    return d.get("per_layer") or d.get("metrics")


def diff_layers(a, b):
    ma, mb = layer_metrics(a), layer_metrics(b)
    print(f"{'metric':28} {'unit':6} {'base':>14} {'change':>14} {'change/base':>12}")
    for k in sorted(set(ma) | set(mb)):
        va = ma.get(k, {}).get("value")
        vb = mb.get(k, {}).get("value")
        unit = (ma.get(k) or mb.get(k))["unit"]
        ratio = f"{vb / va:12.3f}" if va and vb is not None else f"{'-':>12}"
        print(f"{k:28} {unit:6} {va if va is not None else '-':>14.6g} "
              f"{vb if vb is not None else '-':>14.6g} {ratio}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base")
    ap.add_argument("--change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads")
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--out")
    ap.add_argument("--pairs-file")
    ap.add_argument("--layers", nargs=2)
    a = ap.parse_args()
    if a.layers:
        diff_layers(*a.layers)
        return 0
    spec = json.loads(pathlib.Path("BENCHMARK.json").read_text())
    if a.pairs_file:
        report(spec, json.loads(pathlib.Path(a.pairs_file).read_text()))
        return 0
    if not (a.base and a.change):
        ap.error("--base and --change, --pairs-file, or --layers")
    for side in (a.base, a.change):
        if not (pathlib.Path(side) / "perfbench" / "run.py").exists():
            ap.error(f"{side}: no perfbench/run.py")
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    pairs = []
    for i in range(a.pairs):
        seed = a.seed0 + i
        for w in workloads:
            order = [("base", a.base), ("change", a.change)]
            if i % 2:
                order.reverse()
            p = {"workload": w, "seed": seed, "first": order[0][0]}
            for side, root in order:
                p[side] = run_side(root, w, seed, spec["run_seconds"])
            pairs.append(p)
            print(json.dumps(p), file=sys.stderr)
            if a.out:
                pathlib.Path(a.out).write_text(json.dumps(pairs, indent=1))
    report(spec, pairs)
    return 0


if __name__ == "__main__":
    sys.exit(main())
