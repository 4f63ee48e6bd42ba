#!/usr/bin/env python3
"""Round-close scaling gate: the 10x rehearsal as a pass/fail check.

NOT part of the shipped Scala library — round tooling, the scaling
sibling of regression_gate.py.

Usage: python3 tools/scaling_gate.py SCALING_bench_sf0.1.json \
                                      SCALING_bench_sf1.json
Exit 1 iff any query's sf1/sf0.1 time ratio exceeds THRESHOLD (data
grows 10x; 11x = linear plus a 10% grace band) WITHOUT a committed
root-cause note in scaling_allowlist.json. An allowlisted query is
reported with its note but never gates — the allowlist IS the
"committed root-cause" the gate demands; adding to it requires writing
down the cause, which is the point.

Also fails on: errors recorded in either bench file, or an sf0.1 query
missing from the sf1 sweep (silent coverage loss). Exit 2 if the two
files were timed differently (see bench_artifact.py).
"""
import json, os, statistics, sys

from bench_artifact import load, require_same_timing, timing

THRESHOLD = 11.0     # 10x data + 10% grace: anything above is super-linear
MIN_SECONDS = 0.2    # sub-200ms queries are scheduling noise at both SFs


def main(small_path, big_path):
    here = os.path.dirname(os.path.abspath(__file__))
    allow = json.load(open(os.path.join(here, "scaling_allowlist.json")))
    small, big = load(small_path), load(big_path)
    require_same_timing(timing(small), timing(big), small_path, big_path)
    qs, es = small["queries"], small.get("errors", [])
    qb, eb = big["queries"], big.get("errors", [])
    rc = 0
    if es or eb:
        print(f"FAIL: bench errors small={es} big={eb}")
        rc = 1
    missing = [q for q in qs if q not in qb]
    if missing:
        print(f"FAIL: {len(missing)} queries in the sf0.1 sweep are missing "
              f"from sf1: {sorted(missing)[:10]}")
        rc = 1
    # floor on EITHER side: a query that is sub-floor at sf0.1 but
    # explodes at sf1 is exactly what the gate exists to catch
    rows = [(qb[q] / max(qs[q], 1e-3), q) for q in qs
            if q in qb and (qs[q] >= MIN_SECONDS or qb[q] >= MIN_SECONDS)]
    if not rows:
        print("FAIL: no queries above the size floor — empty sweep?")
        return 1
    ratios = [r for r, _ in rows]
    print(f"{len(rows)} queries >= {MIN_SECONDS}s at sf0.1; "
          f"median ratio {statistics.median(ratios):.2f}x, "
          f"max {max(ratios):.2f}x (data 10x, gate {THRESHOLD}x)")
    for r, q in sorted(rows, reverse=True):
        if r <= THRESHOLD:
            continue
        if q in allow:
            print(f"  over-linear ALLOWED {q}: {r:.1f}x — {allow[q]}")
        else:
            print(f"  over-linear FAIL    {q}: {r:.1f}x — no root-cause note "
                  f"in tools/scaling_allowlist.json")
            rc = 1
    stale = [q for q in allow if q in qs and q in qb
             and (qs[q] >= MIN_SECONDS or qb[q] >= MIN_SECONDS)
             and qb[q] / max(qs[q], 1e-3) <= THRESHOLD]
    for q in stale:
        print(f"  note: allowlisted {q} now scales fine "
              f"({qb[q] / qs[q]:.1f}x) — entry can be retired")
    print("scaling gate: " + ("FAIL" if rc else "PASS"))
    return rc


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
