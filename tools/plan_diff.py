#!/usr/bin/env python3
"""Diff two dumps of `graft.Probe plan` key by key, masking what varies
between runs of the same plan.

Usage: python3 tools/plan_diff.py <dirA> <dirB>

`Probe plan <sfDir> <keys> <outDir> <tag>` writes `<key>_<tag>.txt` per key.
The files of the two directories are paired by key. A directory whose files
all carry one tag is read with that tag; a directory holding several tags
(a committed `plans/rNN/` with both sides) is read as `before` for <dirA>
and `after` for <dirB>, so `plan_diff.py plans/r19 plans/r19` compares the
two sides of one evidence directory.

Masked before comparing, because they change from run to run while the plan
stays the same:
  - expression ids (`vec_id#123L` -> `vec_id#N`) and lambda variable
    counters (`x_17`), both JVM-global counters;
  - `[plan_id=...]` and `RDD[...]` ids;
  - identity hashes of array literals (`[D@1b2c3d`, the hyperplane weights)
    and the uuids naming `observe` metrics;
  - call sites of checkpointed RDDs (`at localCheckpoint at KMeans.scala:204`);
  - per-process temp dirs (`graft_cc_<digits>`, `graft_incr_p<pid>`);
  - the operator ordinals `(12)`, which only number the nodes, so one
    inserted node shows as one inserted line instead of renumbering the rest.

Prints a unified diff per differing key, then one summary line. Exits 1 if
any paired key differs, 2 if no key pairs up, else 0.
"""
import collections
import difflib
import pathlib
import re
import sys

MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\bx_\d+\b"), "x_N"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\[D@[0-9a-f]+"), "[D@N"),
    (re.compile(r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b"), "<uuid>"),
    (re.compile(r" at \S+ at \S+\.scala:\d+"), " at <callsite>"),
    (re.compile(r"graft_incr_p\d+"), "graft_incr_pN"),
    (re.compile(r"graft_([A-Za-z]+)_\d+"), r"graft_\1_N"),
    (re.compile(r"^\(\d+\) ", re.M), "(N) "),
    (re.compile(r" \(\d+\)$", re.M), " (N)"),
]


def mask(text):
    for pat, rep in MASKS:
        text = pat.sub(rep, text)
    return text


def tagged(d):
    """key -> {tag: path} for the `<key>_<tag>.txt` files of d."""
    out = collections.defaultdict(dict)
    for p in sorted(pathlib.Path(d).glob("*_*.txt")):
        key, _, tag = p.stem.rpartition("_")
        out[key][tag] = p
    return out


def side(files, preferred):
    """key -> path, reading the dir's single tag, else `preferred`."""
    tags = {t for per_key in files.values() for t in per_key}
    tag = next(iter(tags)) if len(tags) == 1 else preferred
    return {k: v[tag] for k, v in files.items() if tag in v}, tag


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    a, tag_a = side(tagged(argv[1]), "before")
    b, tag_b = side(tagged(argv[2]), "after")
    keys = sorted(a.keys() & b.keys())
    unpaired = sorted(a.keys() ^ b.keys())
    differ = []
    for k in keys:
        la = mask(a[k].read_text()).splitlines(keepends=True)
        lb = mask(b[k].read_text()).splitlines(keepends=True)
        if la != lb:
            differ.append(k)
            sys.stdout.writelines(difflib.unified_diff(
                la, lb, f"{k}_{tag_a}.txt", f"{k}_{tag_b}.txt", n=2))
            print()
    if unpaired:
        print(f"unpaired (dumped on one side only): {', '.join(unpaired)}")
    print(f"plan_diff: {len(keys)} keys paired, {len(keys) - len(differ)} identical, "
          f"{len(differ)} differ" + (f" ({', '.join(differ)})" if differ else ""))
    return 2 if not keys else 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
