#!/usr/bin/env python3
"""Order-independent DuckDB fingerprint grade for outputs too large for
the pandas gate (the r15 skew10 interval-join protocol, generalized).

Usage: python3 tools/fingerprint_check.py <dump_dir> <sf_dir> [key,key,...]

For each <dump_dir>/<key> parquet directory with an oracle in
<dump_dir>/oracle_sql.json (`graft.Probe dump` writes both; a graft.Verify
out dir works too): computes (count, SUM(hash(list_value(c1, c2, ...))), columns sorted by
name) over BOTH the Spark parquet and the oracle SQL replay on the sf
tables, and reports OK/MISMATCH. The LIST hash keeps column boundaries
and NULLs first-class (ADVICE r16: the old '|'-concat with a '<null>'
sentinel could alias rows whose strings contain the separator or the
sentinel). Floats are fingerprinted at their round-trip repr; use only
for integer/string/timestamp outputs (every key this gates emits exact
types by design).
"""
import sys, os, json
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def fingerprint_sql(cols, src):
    expr = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in sorted(cols))
    return (f"SELECT COUNT(*) AS n, "
            f"COALESCE(SUM(hash(list_value({expr}))), 0) AS h FROM {src}")


def main():
    dump_dir, sf_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    failed = 0
    for name in sorted(os.listdir(dump_dir)):
        d = os.path.join(dump_dir, name)
        if not os.path.isdir(d) or (only and name not in only):
            continue
        if name not in oracles:
            print(f"{name}: SKIP (no oracle)")
            continue
        cols = [r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{d}/*.parquet')").fetchall()]
        sn, sh = con.execute(
            fingerprint_sql(cols, f"read_parquet('{d}/*.parquet')")).fetchone()
        on, oh = con.execute(
            fingerprint_sql(cols, f"({oracles[name]}) AS oracle_q")).fetchone()
        ok = (sn, sh) == (on, oh)
        failed += 0 if ok else 1
        print(f"{name}: {'OK' if ok else 'MISMATCH'} "
              f"spark=({sn}, {sh}) oracle=({on}, {oh})")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
