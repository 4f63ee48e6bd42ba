#!/usr/bin/env python3
"""Render the sf0.1 -> sf1 scaling table for SCALING.md.

NOT part of the shipped Scala library — round tooling.
Usage: python3 tools/scaling_report.py bench_sf0.1.json bench_sf1.json
Prints a markdown table of per-query times and the sf1/sf0.1 ratio,
sorted by ratio descending, with a data-growth reference line (10x).
Exit 2 if the two files were timed differently (see bench_artifact.py).
"""
import sys

from bench_artifact import load, require_same_timing, timing


def main(small_path, big_path):
    small, big = load(small_path), load(big_path)
    require_same_timing(timing(small), timing(big), small_path, big_path)
    qs, es = small["queries"], small.get("errors", [])
    qb, eb = big["queries"], big.get("errors", [])
    if es or eb:
        print(f"ERRORS small={es} big={eb}")
    rows = []
    for q in qs:
        if q in qb and qs[q] > 0 and qb[q] > 0:
            rows.append((qb[q] / qs[q], q, qs[q], qb[q]))
    rows.sort(reverse=True)
    print("| query | sf0.1 (s) | sf1 (s) | ratio (data 10x) |")
    print("|---|---|---|---|")
    for r, q, a, b in rows:
        flag = " **> linear**" if r > 11.0 else ""
        print(f"| {q} | {a:.2f} | {b:.2f} | {r:.1f}x{flag} |")
    lin = [r for r, *_ in rows]
    import statistics
    print(f"\nmedian ratio {statistics.median(lin):.2f}x over {len(rows)} queries; "
          f">11x (worse than linear): {sum(1 for r in lin if r > 11.0)}")
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
