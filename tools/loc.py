#!/usr/bin/env python3
"""Count Scala source lines without comments and blanks, per file and in
total: the one line counter for the net-lines figures in CHANGES.md and
ROADMAP.md.

A line is counted when it holds code. Not counted: blank lines, lines
whose first non-blank characters are `//`, and every line of a `/* ... */`
or `/** ... */` block whose opening line starts with `/*`. Lines inside a
triple-quoted string are code, whatever they start with.

Usage:
    python3 tools/loc.py [DIR ...]        # default: src/main/scala
    python3 tools/loc.py --total [DIR ...]

Each DIR is walked for *.scala files. Per-file counts print largest first,
then one `total N` line (the only line with --total).
"""
import os
import sys


def count(path):
    code = 0
    in_block = in_string = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if in_string:
                code += 1
                if s.count('"""') % 2 == 1:
                    in_string = False
            elif in_block:
                if "*/" in s:
                    in_block = False
            elif not s or s.startswith("//"):
                pass
            elif s.startswith("/*"):
                in_block = "*/" not in s[2:]
            else:
                code += 1
                if s.count('"""') % 2 == 1:
                    in_string = True
    return code


def main(argv):
    total_only = "--total" in argv
    dirs = [a for a in argv if a != "--total"] or ["src/main/scala"]
    counts = {}
    for d in dirs:
        if not os.path.isdir(d):
            sys.exit(f"not a directory: {d}")
        for root, _, files in os.walk(d):
            for name in files:
                if name.endswith(".scala"):
                    p = os.path.join(root, name)
                    counts[p] = count(p)
    if not total_only:
        for p, n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
            print(f"{n:7d} {p}")
    print(f"total {sum(counts.values())}")


if __name__ == "__main__":
    main(sys.argv[1:])
