#!/usr/bin/env python3
"""Diff the plan digests of two graft.Bench artifacts.

Usage: tools/plan_delta.py OLD.json[,OLD2.json...] NEW.json[,NEW2.json...]

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

Each side may be a comma-separated list of artifacts, runs of one
commit. Some keys' digests differ between runs of the same code: where
AQE turns a join of two small shuffle stages into a broadcast at run
time, it broadcasts whichever stage finished first, so the build side
flips. For those keys compare digest SETS: a key is CHANGED only when
some NEW run's digest is outside the set of OLD runs' digests. One file
per side is the plain pairwise comparison.

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


def load_side(arg):
    """[(path, artifact)] for each file of a comma-separated list."""
    return [(p, load(p)) for p in arg.split(",")]


def digests(side):
    """key -> {digest: plan entry} over the side's runs, in run order."""
    out = {}
    for _, doc in side:
        for k, e in plans(doc).items():
            out.setdefault(k, {}).setdefault(e["hash"], e)
    return out


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__.strip())
        return 2
    olds, news = load_side(sys.argv[1]), load_side(sys.argv[2])
    for path, doc in olds[1:] + news:
        require_same_timing(timing(olds[0][1]), timing(doc), olds[0][0], path)
    a, b = digests(olds), digests(news)
    added = sorted(set(b) - set(a))
    removed = sorted(set(a) - set(b))
    shared = sorted(set(a) & set(b))
    changed = [k for k in shared if set(b[k]) - set(a[k])]
    errors = sorted(k for k in b if "ERROR" in b[k])
    print(f"shared={len(shared)} unchanged={len(shared) - len(changed)} "
          f"changed={len(changed)} added={len(added)} removed={len(removed)} "
          f"errors={len(errors)}")
    for k in changed:
        old = next(iter(a[k].values()))
        new = next(e for h, e in b[k].items() if h not in a[k])
        print(f"  CHANGED {k}: nodes {old['nodes']}->{new['nodes']}, "
              f"exchanges {old['exchanges']}->{new['exchanges']}")
    for k in added:
        print(f"  ADDED   {k}")
    for k in removed:
        print(f"  REMOVED {k}")
    for k in errors:
        print(f"  ERROR   {k}")
    return 1 if (changed or errors) else 0


if __name__ == "__main__":
    sys.exit(main())
