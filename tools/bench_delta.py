#!/usr/bin/env python3
"""Compare two bench artifacts and print a per-query delta table.

Accepts either the driver's BENCH_r{N}.json wrapper (with a "tail"
field holding the raw run output) or the engine's own one-line
{"metric":...,"queries":{...}} JSON.

Usage: bench_delta.py OLD.json NEW.json [threshold]
  threshold (default 1.5): flag queries whose NEW/OLD ratio exceeds it.
Exit 2 if the two files were timed differently (see bench_artifact.py).
"""
import json
import re
import sys

from bench_artifact import require_same_timing, timing


def load(path):
    """(key -> seconds, timing) of an artifact or a driver wrapper."""
    with open(path) as f:
        doc = json.load(f)
    if "queries" in doc:
        return {k: v for k, v in doc["queries"].items() if v >= 0}, timing(doc)
    # driver wrapper: parse the tail's JSON fragment and/or stderr lines
    tail = doc.get("tail", "")
    m = re.search(r'"timing":"(\w+)"', tail)
    timed = m.group(1) if m else "count"
    # non-query numeric JSON keys that the fragment regex would otherwise
    # swallow (e.g. "value": the whole-suite total)
    NOT_QUERIES = {"value", "sf", "n", "rc", "cpus", "nodes", "exchanges"}
    out = {}
    for m in re.finditer(r'"([a-z0-9_]+)":(-?[0-9.]+)', tail):
        v = float(m.group(2))
        if v >= 0 and m.group(1) not in NOT_QUERIES:
            out[m.group(1)] = v
    # stderr fallback (JSON-fragment values win): min across TIMED
    # passes only — pass=0 is the untimed warm-up; bare lines without
    # pass= are the old per-query format, which had no warm-up marker
    stderr_min = {}
    for m in re.finditer(r"\[bench\] (?:pass=(\d+) )?([a-z0-9_]+) ([0-9.]+)s", tail):
        if m.group(1) == "0":
            continue
        k, v = m.group(2), float(m.group(3))
        if k not in stderr_min or v < stderr_min[k]:
            stderr_min[k] = v
    for k, v in stderr_min.items():
        out.setdefault(k, v)
    return out, timed


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    (old, old_timing), (new, new_timing) = load(sys.argv[1]), load(sys.argv[2])
    require_same_timing(old_timing, new_timing, sys.argv[1], sys.argv[2])
    threshold = float(sys.argv[3]) if len(sys.argv) > 3 else 1.5
    shared = sorted(set(old) & set(new))
    print(f"old: {len(old)} queries ({sum(old.values()):.1f}s)  "
          f"new: {len(new)} queries ({sum(new.values()):.1f}s)  "
          f"shared: {len(shared)} "
          f"(old {sum(old[k] for k in shared):.1f}s -> "
          f"new {sum(new[k] for k in shared):.1f}s)")
    def ratio(k):
        return new[k] / old[k] if old[k] > 0 else float("inf")
    rows = sorted(shared, key=lambda k: -ratio(k))
    flagged = 0
    for k in rows:
        r = ratio(k)
        mark = " <-- REGRESSED" if r > threshold and new[k] - old[k] > 0.25 else ""
        if mark:
            flagged += 1
        print(f"  {k:28s} {old[k]:7.3f}s -> {new[k]:7.3f}s  x{r:5.2f}{mark}")
    only_new = sorted(set(new) - set(old))
    if only_new:
        print("new-only:", ", ".join(f"{k}={new[k]:.2f}s" for k in only_new))
    print(f"{flagged} regression(s) above x{threshold} (+0.25s absolute)")


if __name__ == "__main__":
    main()
