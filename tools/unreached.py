#!/usr/bin/env python3
"""List the top-level types and their member defs in src/main that nothing
in src/main or perfbench/src references.

    python3 tools/unreached.py [repoRoot]

Report only: always exits 0. Comments are stripped before counting (string
literals are kept, so a name used inside SQL text counts as referenced). A
top-level `object`/`class`/`trait` counts as reached when its name appears
in another file, or in its own file outside its own body (a body runs from
its declaration to the next top-level declaration), so an expression class
that only its file's column face builds is reached; a member `def` (declared
at two-space indent) when its name appears anywhere except its own
declaration. References from src/test are counted separately and printed
next to each unreached symbol, so a symbol reached only by its own spec
shows as `tests=N`.

Known false positives: `override`s and implementations of abstract members
that Spark calls (Expression/aggregate APIs), the `SparkEntry.entry`
driver contract, and objects that only `runMain` starts (`graft.Probe`).
"""
import os
import re
import sys
from collections import Counter

TYPE_DECL = re.compile(
    r"^(?:(?:final|sealed|abstract|case|private(?:\[\w+\])?|implicit)\s+)*"
    r"(object|class|trait)\s+([A-Za-z_]\w*)")
DEF_DECL = re.compile(
    r"^  (?:(?:override|private(?:\[\w+\])?|protected(?:\[\w+\])?|final|"
    r"implicit|inline)\s+)*def\s+([A-Za-z_]\w*)")


def strip_comments(src):
    """Drop // and /* */ comments (nested block comments included); keep
    string literals and every newline so line numbers stay put."""
    out, i, n, depth = [], 0, len(src), 0
    while i < n:
        if depth:
            if src.startswith("/*", i):
                depth += 1; i += 2
            elif src.startswith("*/", i):
                depth -= 1; i += 2
            else:
                if src[i] == "\n":
                    out.append("\n")
                i += 1
        elif src.startswith("/*", i):
            depth = 1; i += 2
        elif src.startswith("//", i):
            while i < n and src[i] != "\n":
                i += 1
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out.append(src[i:j]); i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1]); i = j + 1
        elif src[i] == "'" and i + 2 < n and src[i + 2] == "'":
            out.append(src[i:i + 3]); i += 3  # char literal such as '"'
        else:
            out.append(src[i]); i += 1
    return "".join(out)


def scala_files(root):
    for d, _, names in os.walk(root):
        for name in sorted(names):
            if name.endswith(".scala"):
                yield os.path.join(d, name)


def load(paths):
    return {p: strip_comments(open(p, encoding="utf-8").read()) for p in paths}


def main():
    repo = sys.argv[1] if len(sys.argv) > 1 else "."
    main_src = load(scala_files(os.path.join(repo, "src/main/scala")))
    bench_src = load(scala_files(os.path.join(repo, "perfbench/src")))
    test_src = load(scala_files(os.path.join(repo, "src/test/scala")))
    program = {**main_src, **bench_src}

    words = re.compile(r"\b[A-Za-z_]\w*\b")
    tally = {p: Counter(words.findall(t)) for p, t in {**program, **test_src}.items()}

    def refs(name, files):
        return sum(tally[p][name] for p in files)

    found = []
    for path, text in sorted(main_src.items()):
        rel = os.path.relpath(path, repo)
        lines = text.split("\n")
        starts = [i for i, line in enumerate(lines) if TYPE_DECL.match(line)]
        for no, line in enumerate(lines, 1):
            t, d = TYPE_DECL.match(line), DEF_DECL.match(line)
            if t:
                kind, name = t.group(1), t.group(2)
                end = next((s for s in starts if s >= no), len(lines))
                body = Counter(words.findall("\n".join(lines[no - 1:end])))
                n = refs(name, program) - body[name]
            elif d:
                kind, name = "def", d.group(1)
                n = refs(name, program) - words.findall(line).count(name)
            else:
                continue
            if n == 0:
                found.append((rel, no, kind, name, refs(name, test_src)))

    for rel, no, kind, name, tests in found:
        print(f"{rel}:{no}: {kind} {name}  tests={tests}")
    only_tests = sum(1 for f in found if f[4] > 0)
    print(f"unreached: {len(found)} symbols in src/main "
          f"({only_tests} referenced only from src/test)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
