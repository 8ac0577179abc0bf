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
  - the JVM's lambda classes in typed operators' arguments
    (`Multimodal$$$Lambda$3689/0x00007fc59cffcb58@18f493d7`): numbered in
    creation order, placed at a per-process address, with an identity hash;
  - call sites of checkpointed RDDs (`at localCheckpoint at KMeans.scala:204`);
  - per-process temp dirs (`graft_cc_<digits>`, `graft_incr_p<pid>`,
    `graft_e2e_p<pid>`, any `/<prefix><random digits>` a JVM
    `Files.createTempDirectory` names, such as `/st_upsert<digits>`);
  - the operator ordinals `(12)`, which only number the nodes, so one
    inserted node shows as one inserted line instead of renumbering the rest.

A dump that ends in Spark's truncation marker (`... N more characters`, cut
at `spark.sql.maxPlanStringLength` where the raw id digits put the limit) is
reported as truncated, not compared: two cuts of one plan fall at different
places. `Probe plan` writes full plans; an older dump may carry the marker.

Prints a unified diff per differing key, then one summary line. Exits 1 if
any paired key differs or is truncated, 2 if no key pairs up, else 0.
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
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b"), "<uuid>"),
    (re.compile(r" at \S+ at \S+\.scala:\d+"), " at <callsite>"),
    (re.compile(r"\b(graft_[a-z0-9]+_p)\d+"), r"\1N"),
    (re.compile(r"(/[A-Za-z_]+?)\d{9,}\b"), r"\1N"),
    (re.compile(r"graft_([A-Za-z]+)_\d+"), r"graft_\1_N"),
    (re.compile(r"^\(\d+\) ", re.M), "(N) "),
    (re.compile(r" \(\d+\)$", re.M), " (N)"),
]


TRUNCATED = re.compile(r"(\.\.\. \d+ more characters|Truncated plan of \d+ characters)\s*$")


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
    differ, truncated = [], []
    for k in keys:
        ta, tb = a[k].read_text(), b[k].read_text()
        if TRUNCATED.search(ta) or TRUNCATED.search(tb):
            truncated.append(k)
            continue
        la = mask(ta).splitlines(keepends=True)
        lb = mask(tb).splitlines(keepends=True)
        if la != lb:
            differ.append(k)
            sys.stdout.writelines(difflib.unified_diff(
                la, lb, f"{k}_{tag_a}.txt", f"{k}_{tag_b}.txt", n=2))
            print()
    if unpaired:
        print(f"unpaired (dumped on one side only): {', '.join(unpaired)}")
    same = len(keys) - len(differ) - len(truncated)
    print(f"plan_diff: {len(keys)} keys paired, {same} identical, "
          f"{len(differ)} differ" + (f" ({', '.join(differ)})" if differ else "") +
          (f", {len(truncated)} truncated ({', '.join(truncated)})" if truncated else ""))
    return 2 if not keys else 1 if differ or truncated else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
