#!/usr/bin/env python3
"""Diff two committed bench artifacts (full or targeted) and print a
markdown table generated FROM the artifacts — the round-15 rule that
headline numbers must be grep-identical to committed evidence, never
transcribed by hand (round-14 verdict, "What's wrong #1").

Usage: bench_diff.py BEFORE.json AFTER.json [query ...]
With no query args, prints every query present in both plus totals.
"""
import json
import sys


def load(path):
    with open(path) as f:
        d = json.load(f)
    return d


def main():
    before, after = load(sys.argv[1]), load(sys.argv[2])
    names = sys.argv[3:] or sorted(set(before["queries"]) & set(after["queries"]))
    bq, aq = before["queries"], after["queries"]
    print(f"before: {sys.argv[1]} (foreign_cores {before.get('foreign_cores')}, "
          f"contended {before.get('contended')})")
    print(f"after:  {sys.argv[2]} (foreign_cores {after.get('foreign_cores')}, "
          f"contended {after.get('contended')})")
    print("| query | before s | after s | speedup |")
    print("|---|---|---|---|")
    tb = ta = 0.0
    for n in names:
        b, a = bq.get(n, -1), aq.get(n, -1)
        # a missing reading, or an after-time rounded to 0.000, has no ratio
        if b is None or a is None or b < 0 or a <= 0:
            print(f"| {n} | {b} | {a} | n/a |")
            continue
        tb += b
        ta += a
        print(f"| {n} | {b:.3f} | {a:.3f} | {b / a:.2f}x |")
    if tb > 0 and ta > 0:
        print(f"| TOTAL ({len(names)}) | {tb:.3f} | {ta:.3f} | {tb / ta:.2f}x |")


if __name__ == "__main__":
    main()
