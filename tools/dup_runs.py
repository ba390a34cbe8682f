#!/usr/bin/env python3
"""List the duplicated runs of code in a source tree (dev tool).

Usage:
    python3 tools/dup_runs.py [root]        # default root: src/main

Every `.scala` file under root is read as a list of code lines:
  - each line is whitespace-normalized (trimmed, inner runs of spaces and
    tabs collapsed to one space);
  - blank lines, comment lines (starting with `//`, `/*`, `*` or `*/`)
    and `import`/`package` lines are skipped.
A window is 4 consecutive code lines whose normalized text totals at
least 140 characters. Two equal windows at different places are a
duplicate; duplicates whose windows follow each other in step at the same
pair of places merge into one maximal run. Two windows of one file that
overlap are not a duplicate of each other.

Prints each run as `file:first-last == file:first-last` (1-based source
line numbers) and a total line with the number of runs and the number of
distinct source lines they cover.
"""
import os
import re
import sys
from collections import defaultdict

WINDOW = 4
MIN_CHARS = 140
COMMENT = ("//", "/*", "*")


def code_lines(path):
    """(normalized text, 1-based line number) for each code line."""
    out = []
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            line = re.sub(r"[ \t]+", " ", raw.strip())
            if not line or line.startswith(COMMENT):
                continue
            if line.startswith(("import ", "package ")):
                continue
            out.append((line, no))
    return out


def scan(root):
    files = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".scala"):
                p = os.path.join(d, n)
                files[os.path.relpath(p)] = code_lines(p)
    windows = defaultdict(list)
    for path in sorted(files):
        lines = files[path]
        for i in range(len(lines) - WINDOW + 1):
            text = tuple(t for t, _ in lines[i:i + WINDOW])
            if sum(len(t) for t in text) >= MIN_CHARS:
                windows[text].append((path, i))
    # every pair of equal windows, keyed by the pair of places and the
    # diagonal (offset between the two window starts), so runs merge
    pairs = defaultdict(set)
    for locs in windows.values():
        for a in range(len(locs)):
            for b in range(a + 1, len(locs)):
                (fa, ia), (fb, ib) = locs[a], locs[b]
                if fa == fb and abs(ia - ib) < WINDOW:
                    continue
                pairs[(fa, fb, ib - ia)].add(ia)
    runs = []
    for (fa, fb, off), starts in pairs.items():
        starts = sorted(starts)
        first = prev = starts[0]
        for s in starts[1:] + [None]:
            if s is not None and s == prev + 1:
                prev = s
                continue
            la, lb = files[fa], files[fb]
            runs.append((fa, la[first][1], la[prev + WINDOW - 1][1],
                         fb, lb[first + off][1], lb[prev + off + WINDOW - 1][1]))
            if s is not None:
                first = prev = s
    return sorted(runs)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main"
    runs = scan(root)
    covered = set()
    for fa, a0, a1, fb, b0, b1 in runs:
        print(f"{fa}:{a0}-{a1} == {fb}:{b0}-{b1}")
        covered.update((fa, n) for n in range(a0, a1 + 1))
        covered.update((fb, n) for n in range(b0, b1 + 1))
    print(f"total: {len(runs)} runs covering {len(covered)} lines")


if __name__ == "__main__":
    main()
