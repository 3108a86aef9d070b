#!/usr/bin/env python3
"""Report verbatim-repeated line runs in the query definition files.

Usage: python3 tools/dup_blocks.py [-q] [file ...]

Reads graft's query files (default: src/main/scala/graft/queries/
{Core,Llm,Text,Ext}Queries.scala, in SparkEntry.allDefs order), strips
leading and trailing whitespace from every line, and slides a 5-line
window over each file. A window whose 5 lines hold at least 120 chars
and that already appeared earlier (in the same file or a file read
before it) marks its 5 lines as repeated. Maximal stretches of marked
lines are the reported runs; each names the site of its first window's
earlier copy. -q prints only the per-file and total summary lines.
"""
import os
import sys

WINDOW = 5
MIN_CHARS = 120
ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
DEFAULT = [os.path.join(ROOT, "src/main/scala/graft/queries", f + "Queries.scala")
           for f in ("Core", "Llm", "Text", "Ext")]


def scan(paths):
    lines = []  # (file, lineno, stripped text)
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            lines += [(p, i + 1, l.strip()) for i, l in enumerate(fh)]
    first = {}
    marked = [None] * len(lines)  # earlier site of the window that marks it
    for i in range(len(lines) - WINDOW + 1):
        win = lines[i:i + WINDOW]
        if any(w[0] != win[0][0] for w in win):
            continue
        key = tuple(w[2] for w in win)
        if sum(len(k) for k in key) < MIN_CHARS:
            continue
        if key in first:
            for k in range(WINDOW):
                if marked[i + k] is None:
                    marked[i + k] = first[key]
        else:
            first[key] = (win[0][0], win[0][1])
    runs = []  # [file, start, end, earlier site]
    for i, site in enumerate(marked):
        if site is None:
            continue
        f, n, _ = lines[i]
        if runs and runs[-1][0] == f and runs[-1][2] == n - 1:
            runs[-1][2] = n
        else:
            runs.append([f, n, n, site])
    return runs


def main(argv):
    quiet = "-q" in argv
    paths = [a for a in argv if a != "-q"] or DEFAULT
    runs = scan(paths)
    name = lambda p: os.path.relpath(p, ROOT)
    if not quiet:
        for f, s, e, (sf, sn) in runs:
            print(f"{name(f)}:{s}-{e} ({e - s + 1} lines) repeats {name(sf)}:{sn}")
    for p in paths:
        mine = [r for r in runs if r[0] == p]
        print(f"{name(p)}: {sum(r[2] - r[1] + 1 for r in mine)} repeated lines"
              f" in {len(mine)} runs")
    print(f"total: {sum(r[2] - r[1] + 1 for r in runs)} repeated lines in {len(runs)} runs")


if __name__ == "__main__":
    main(sys.argv[1:])
