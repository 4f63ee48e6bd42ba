#!/usr/bin/env python3
"""Diff the plan digests of two graft.Bench artifacts.

Usage: tools/plan_delta.py OLD.json NEW.json

Each file is graft.Bench output (BENCH_full.json); its "plans" map holds
one structural digest per key, taken from the same noop execution as
the key's time: MD5 over the final physical plan's operators (class,
join type and build side, exchange partitioning and partition count,
AQE shuffle-read coalescing), with AQE's wrappers unwrapped, a Union's
children in digest order, and no expression text, ids, paths, literals
or seeds. Two executions of one plan shape digest alike, so a key whose
digest is unchanged ran the same plan and any timing delta on it is
host/JIT epoch, not a regression. Keys listed under CHANGED deserve a
real look: rerun graft.Bench with --plans-dir DIR and those keys on
both commits, and diff DIR/<key>.txt.

The digest embeds each shuffle's partition count, which follows the core
count (SPARK_GRAFT_CPUS) and the input size; compare artifacts made
with the same cores and fixture.

Exit 2 if the files were timed differently (the older PLANS_r*.json
files are regex-scrubbed count-era digests, see bench_artifact.py);
exit 1 if any digest changed or NEW has an errored key; else 0.
"""
import sys

from bench_artifact import load, require_same_timing, timing


def plans(doc):
    # an older PLANS_r*.json file is the bare key -> digest map
    return doc.get("plans", doc)


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__.strip())
        return 2
    da, db = load(sys.argv[1]), load(sys.argv[2])
    require_same_timing(timing(da), timing(db), sys.argv[1], sys.argv[2])
    a, b = plans(da), plans(db)
    added = sorted(set(b) - set(a))
    removed = sorted(set(a) - set(b))
    shared = sorted(set(a) & set(b))
    changed = [k for k in shared if a[k]["hash"] != b[k]["hash"]]
    errors = sorted(k for k in b if b[k]["hash"] == "ERROR")
    print(f"shared={len(shared)} unchanged={len(shared) - len(changed)} "
          f"changed={len(changed)} added={len(added)} removed={len(removed)} "
          f"errors={len(errors)}")
    for k in changed:
        print(f"  CHANGED {k}: nodes {a[k]['nodes']}->{b[k]['nodes']}, "
              f"exchanges {a[k]['exchanges']}->{b[k]['exchanges']}")
    for k in added:
        print(f"  ADDED   {k}")
    for k in removed:
        print(f"  REMOVED {k}")
    for k in errors:
        print(f"  ERROR   {k}")
    return 1 if (changed or errors) else 0


if __name__ == "__main__":
    sys.exit(main())
