#!/usr/bin/env python3
"""Count the K-line windows (K = 4) of src/main that appear more than once.

    python3 tools/dup_windows.py [repoRoot]

Report only: always exits 0. Each .scala file under src/main/scala has its
comments stripped (as in tools/unreached.py) and its `def oracle` bodies
left out (the DuckDB SQL half states each query a second time on purpose).
Every remaining line is normalized: surrounding whitespace dropped and inner
runs of whitespace collapsed. Lines that carry no code of their own (blank,
only brackets and commas, or an `import`) are skipped, so a window is K
consecutive lines that do. A window that occurs two or more times, in one
file or across files, is printed with the file:line where each occurrence
starts, most repeated first, then one summary line. One duplicated block of
n lines shows as n - K + 1 overlapping windows; the count is a trend to
compare between two checkouts, not a number of blocks.
"""
import os
import re
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from unreached import scala_files, strip_comments  # noqa: E402

K = 4
ORACLE = re.compile(r"^\s*(?:override\s+)?(?:private\s+)?def\s+oracle\b")
TRIVIAL = re.compile(r"^[\s{}()\[\],;]*$")
STRING = re.compile(r'"""[\s\S]*?"""|"(?:\\.|[^"\\\n])*"')


def bracket_depths(text):
    """Per line, the ()/{} depth at its end, with string literals blanked
    so SQL text cannot unbalance the count."""
    bare = STRING.sub(lambda m: re.sub(r"[^\n]", " ", m.group(0)), text)
    depths, d = [], 0
    for line in bare.split("\n"):
        d += sum(line.count(c) for c in "({") - sum(line.count(c) for c in ")}")
        depths.append(d)
    return depths


def code_lines(text):
    """(line number, normalized line) of the lines outside `def oracle`
    bodies that carry code of their own."""
    lines = text.split("\n")
    depths = bracket_depths(text)
    out, skip_to = [], None
    for i, line in enumerate(lines):
        if skip_to is not None:
            if depths[i] <= skip_to:
                skip_to = None
            continue
        if ORACLE.match(line):
            start = depths[i - 1] if i else 0
            if depths[i] > start:
                skip_to = start
            continue
        norm = " ".join(line.split())
        if TRIVIAL.match(norm) or norm.startswith("import "):
            continue
        out.append((i + 1, norm))
    return out


def main():
    repo = sys.argv[1] if len(sys.argv) > 1 else "."
    seen = defaultdict(list)
    for path in scala_files(os.path.join(repo, "src/main/scala")):
        rel = os.path.relpath(path, repo)
        code = code_lines(strip_comments(open(path, encoding="utf-8").read()))
        for j in range(len(code) - K + 1):
            window = tuple(norm for _, norm in code[j:j + K])
            seen[window].append(f"{rel}:{code[j][0]}")
    repeated = sorted(((w, at) for w, at in seen.items() if len(at) > 1),
                      key=lambda e: (-len(e[1]), e[1]))
    for window, at in repeated:
        print(f"{len(at)}x  {window[0][:100]}")
        for where in at:
            print(f"      {where}")
    print(f"repeated {K}-line windows: {len(repeated)} in src/main "
          f"({sum(len(at) for _, at in repeated)} occurrences)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
