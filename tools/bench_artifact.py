"""Reading graft.Bench artifacts for the round tools.

NOT part of the shipped Scala library — shared by the gate and delta
scripts next to it.

An artifact is graft.Bench's one JSON line: "queries" (key -> best
seconds, -1 for a failed key), "errors", "sf", "timing" and "plans"
(key -> {hash, nodes, exchanges}). A file without "timing" predates the
noop runner: its keys were timed by count() and its digests (the older
PLANS_r*.json files) were regex-scrubbed plan strings, so it counts as
"count". Times and digests of different timings measure different
plans and are never compared.
"""
import json
import sys


def load(path):
    """The artifact's JSON object (text before its first '{' is skipped)."""
    txt = open(path).read()
    return json.loads(txt[txt.index("{"):])


def timing(doc):
    return doc.get("timing", "count")


def require_same_timing(old_timing, new_timing, old_path, new_path):
    """Exit 2 unless both artifacts were timed the same way."""
    if old_timing != new_timing:
        print(f"REFUSED: {old_path} has timing={old_timing} but {new_path} "
              f"has timing={new_timing}; count and noop artifacts are "
              f"not comparable")
        sys.exit(2)
