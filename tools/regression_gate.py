#!/usr/bin/env python3
"""One-command regression verdict between two graft.Bench artifacts.

NOT part of the shipped Scala library — round-over-round tooling.

Usage: python3 tools/regression_gate.py OLD.json NEW.json
Both files are graft.Bench output (BENCH_full.json): per-key times, the
errors list and the per-key plan digests, all from the same noop
executions.

Exit 2 if the two files were timed differently ("timing"; a file
without it counts as count()) or either has no "plans".
Exit 1 if NEW lists any errors, if a key of OLD is missing from NEW, or
if a digest-UNCHANGED key slowed by more than THRESHOLD beyond the epoch
drift (the control-normalised ratio). Plan changes are reported but
never gate (they are intentional edits to review), and host-epoch
inflation is divided out using the median ratio of unchanged keys, so
only per-key anomalies fire. Slowdowns whose cause lives where the
digest cannot see it (closure-internal kernels, pre-pass jobs) are gated
unless root-caused in regression_allowlist.json.
"""
import json, os, statistics, sys

from bench_artifact import load, require_same_timing, timing

THRESHOLD = 1.5      # control-normalised slowdown that fails the gate
MIN_SECONDS = 0.3    # ignore sub-300ms trivia (pure jitter at that size)


def main(old_path, new_path):
    old, new = load(old_path), load(new_path)
    require_same_timing(timing(old), timing(new), old_path, new_path)
    if "plans" not in old or "plans" not in new:
        print("REFUSED: both files need per-key plan digests (\"plans\")")
        return 2
    bo, bn = old["queries"], new["queries"]
    po, pn = old["plans"], new["plans"]
    rc = 0
    if new.get("errors"):
        print(f"FAIL: {len(new['errors'])} keys failed in {new_path}: "
              f"{new['errors']}")
        rc = 1
    missing = sorted(q for q in bo if q not in bn)
    if missing:
        print(f"FAIL: {len(missing)} keys of {old_path} are missing from "
              f"{new_path}: {missing[:10]}")
        rc = 1
    shared = [q for q in bo if q in bn and q in po and q in pn
              and bo[q] > 0 and bn[q] > 0]
    unchanged = [q for q in shared if po[q]["hash"] == pn[q]["hash"]]
    changed = [q for q in shared if po[q]["hash"] != pn[q]["hash"]]
    sized = [q for q in unchanged if bo[q] >= MIN_SECONDS]
    if not sized:
        print("no digest-unchanged keys above the size floor — no timing to gate")
        return rc
    epoch = statistics.median(bn[q] / bo[q] for q in sized)
    print(f"epoch drift (median over {len(sized)} unchanged queries ≥ "
          f"{MIN_SECONDS}s): {epoch:.3f}x")
    # committed root-cause notes for slowdowns the plan digest cannot
    # see (kernel-internal changes, chooser pre-pass jobs): allowlisted
    # queries report but never gate — the note IS the review artifact,
    # same contract as tools/scaling_allowlist.json
    allow_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "regression_allowlist.json")
    allow = json.load(open(allow_path)) if os.path.exists(allow_path) else {}
    bad = []
    for q in sized:
        norm = (bn[q] / bo[q]) / epoch
        if norm > THRESHOLD:
            if q in allow:
                print(f"  slowed but ALLOWED (root-caused): {q} "
                      f"{bo[q]:.2f}s -> {bn[q]:.2f}s — {allow[q]}")
            else:
                bad.append((norm, q, bo[q], bn[q]))
    for q in changed:
        print(f"  plan-changed (review, not gated): {q} "
              f"{bo[q]:.2f}s -> {bn[q]:.2f}s")
    if bad:
        print(f"FAIL: {len(bad)} digest-unchanged queries slowed > "
              f"{THRESHOLD}x beyond epoch:")
        for norm, q, o, n in sorted(bad, reverse=True):
            print(f"  {q}: {o:.2f}s -> {n:.2f}s ({norm:.2f}x normalised)")
        return 1
    if rc == 0:
        print(f"OK: all {len(sized)} digest-unchanged queries within "
              f"{THRESHOLD}x of the epoch")
    return rc


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__.strip())
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
