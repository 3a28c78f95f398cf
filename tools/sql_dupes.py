#!/usr/bin/env python3
"""Count repeated oracle SQL in the query registry sources.

An oracle SQL line is a source line of a `src/main/scala/graft/*Queries*.scala`
file whose first non-blank character is the `stripMargin` bar `|`; lines are
compared on the text after that bar. A line counts as a repeat at block size
N when it lies in a run of N source-adjacent oracle lines whose text already
appeared, as a run of N, earlier in the scan (files in name order, then line
order, so a block first written in one file and repeated in another counts in
the second). Prints per-file counts for N = 4 and N = 10.

    python3 tools/sql_dupes.py
"""
import glob
import os
import re

BAR = re.compile(r"^\s*\|(.*)$")
SIZES = (4, 10)
ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                    "src", "main", "scala", "graft")


def oracle_lines(path):
    """[(line number, text after the bar)] for every margin line."""
    with open(path, encoding="utf-8") as f:
        return [(i + 1, m.group(1))
                for i, l in enumerate(f)
                if (m := BAR.match(l.rstrip("\n")))]


def repeats(files, n):
    """{path: number of oracle lines that repeat an earlier n-line block}."""
    seen, counts = set(), {}
    for path, seq in files:
        marked = set()
        for s in range(len(seq) - n + 1):
            w = seq[s:s + n]
            if w[-1][0] - w[0][0] != n - 1:  # not source-adjacent
                continue
            key = tuple(t for _, t in w)
            if key in seen:
                marked.update(range(s, s + n))
            else:
                seen.add(key)
        counts[path] = len(marked)
    return counts


def main():
    paths = sorted(glob.glob(os.path.join(ROOT, "*Queries*.scala")))
    files = [(p, oracle_lines(p)) for p in paths]
    results = {n: repeats(files, n) for n in SIZES}

    print(f"{'file':<26}{'oracle':>8}" +
          "".join(f"{'N>=' + str(n):>9}" for n in SIZES))
    totals = [0] * (len(SIZES) + 1)
    for path, seq in files:
        counts = [len(seq)] + [results[n][path] for n in SIZES]
        totals = [a + b for a, b in zip(totals, counts)]
        print(f"{os.path.basename(path):<26}{counts[0]:>8}" +
              "".join(f"{c:>9}" for c in counts[1:]))
    print(f"{'total':<26}{totals[0]:>8}" +
          "".join(f"{c:>9}" for c in totals[1:]))


if __name__ == "__main__":
    main()
