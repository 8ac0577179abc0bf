#!/usr/bin/env python3
"""Regenerates perfbench/expected.json: the output fingerprints every
benchmark run is checked against, for seed 42 and the held-out seed.

Usage (from the checkout root): python3 perfbench/make_expected.py

For each seed it
  1. generates the benchmark's corpus (ScaleGen, the same sf and seed a run uses),
  2. dumps the three operator keys and the 24 ecom_* keys with graft.Verify and
     checks them against DuckDB with tools/oracle_check.py: a failing key
     stops the script. The ecom_* keys read the marts ModelGraph.run lands,
     so they vouch for the medallion_build tables too;
  3. runs medallion_build and operator_keys once on that seed, with no
     expected values (each run then sets up the seed's corpus twice), and
     records the fingerprints; every pass must agree.
Fingerprints of outputs that the oracle does not cover (the landed tables
no ecom_* key reads) are the values of the commit the script runs on.
"""
import json
import pathlib
import subprocess
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402

SEEDS = [42, 4099]  # 4099 is the held-out seed: claims are re-checked on it
ORACLE_KEYS = [
    "graph_pagerank", "dedup_components", "ann_ivf_trained",
    "ecom_addresses_quirk", "ecom_categories_enriched", "ecom_customer_interactions",
    "ecom_customers_enriched", "ecom_dim_categories", "ecom_dim_customers",
    "ecom_dim_dates", "ecom_dim_locations", "ecom_dim_products",
    "ecom_fct_customer_activity", "ecom_fct_customer_orders",
    "ecom_fct_customer_reviews", "ecom_fct_order_details",
    "ecom_fct_product_interactions", "ecom_fct_product_performance",
    "ecom_fct_sales_by_date", "ecom_fct_sales_by_product", "ecom_fct_sales_by_region",
    "ecom_locations", "ecom_order_items", "ecom_orders", "ecom_products_enriched",
    "ecom_reviews_enriched", "ecom_subcategories_enriched"]


def java(cp, main, *args):
    cmd = ["java"] + run.JAVA_OPTS + ["-cp", cp, main] + [str(a) for a in args]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"{main} failed")


def main():
    cp = build.build()
    base = build.OUT / "expected"
    out = {"sf": run.SF, "seeds": {}}
    for seed in SEEDS:
        corpus, dump = base / f"{seed}" / "corpus", base / f"{seed}" / "verify"
        subprocess.run(["rm", "-rf", str(base / f"{seed}")], check=True)
        java(cp, "graft.sources.ScaleGen", corpus, run.SF, seed, "fixed")
        java(cp, "graft.Verify", corpus, dump, ",".join(ORACLE_KEYS))
        r = subprocess.run([sys.executable, "tools/oracle_check.py", str(dump), str(corpus)],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        # the check also lists every oracle key it was not given: only ours count
        ok = {line.split()[1] for line in r.stdout.splitlines() if line.startswith("OK ")}
        failing = [k for k in ORACLE_KEYS if k not in ok]
        if failing:
            raise SystemExit(f"seed {seed}: oracle check failed for {failing}:\n{r.stdout[-4000:]}")
        print(f"seed {seed}: {len(ORACLE_KEYS)} keys match DuckDB")
        fps = {}
        for w in ("medallion_build", "operator_keys"):
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                "--seed", str(seed), "--seconds", "0", "--no-expected"],
                               stdout=subprocess.PIPE, text=True)
            if r.returncode != 0:
                raise SystemExit(f"seed {seed}: {w} failed")
            detail = json.loads((build.OUT / "runs" / f"{w}-{seed}-0" / "detail.json").read_text())
            for c in detail["checks"]:
                assert c["seed"] == seed, c
                vals = set(c["fingerprints"].values())
                if len(vals) != 1:
                    raise SystemExit(f"seed {seed}: {c['name']} differs between passes")
                fps[c["name"]] = vals.pop()
        out["seeds"][str(seed)] = dict(sorted(fps.items()))
    run.EXPECTED.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    print(f"wrote {run.EXPECTED}")


if __name__ == "__main__":
    main()
