#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines under src/main and src/test.

A line is a comment when, stripped, it starts with `//`, or when it lies in
a block comment: a block opens on a line whose stripped text starts with
`/*` and closes on the first line containing `*/` after the opening. Every
other non-blank line counts, including a code line with a trailing comment.
Prints one `<lines>  <path>` row per file (path relative to the repository
root, in name order), a total per tree, and the grand total.

    python3 tools/loc.py
"""
import os

ROOT = os.path.normpath(os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
TREES = ("src/main", "src/test")


def code_lines(path):
    n, in_block = 0, False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if in_block:
                in_block = "*/" not in s
            elif s.startswith("/*"):
                in_block = "*/" not in s[2:]
            elif s and not s.startswith("//"):
                n += 1
    return n


def main():
    grand = 0
    for tree in TREES:
        files = sorted(
            os.path.join(d, f)
            for d, _, fs in os.walk(os.path.join(ROOT, tree))
            for f in fs if f.endswith(".scala"))
        total = 0
        for path in files:
            n = code_lines(path)
            total += n
            print(f"{n:6d}  {os.path.relpath(path, ROOT)}")
        print(f"{total:6d}  total {tree}")
        grand += total
    print(f"{grand:6d}  total")


if __name__ == "__main__":
    main()
