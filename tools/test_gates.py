"""Exit-code tests for the round gates over tiny bench artifacts.

Run from the repository root: python3 -m unittest tools/test_gates.py
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

TOOLS = os.path.dirname(os.path.abspath(__file__))


def artifact(times, errors=(), timing="noop", hashes=None):
    """A graft.Bench artifact; each key's digest is "h-<key>" unless given."""
    hashes = hashes or {}
    doc = {"metric": "total", "value": sum(v for v in times.values() if v > 0),
           "unit": "sec", "queries": times, "errors": list(errors),
           "sf": "/fixture", "plans": {
               k: {"hash": hashes.get(k, "h-" + k), "nodes": 3, "exchanges": 1}
               for k in times}}
    if timing is not None:
        doc["timing"] = timing
    return doc


BASE = {"k1": 1.0, "k2": 2.0, "k3": 0.5}


class GateExitCodes(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.dir.cleanup()

    def run_tool(self, tool, old, new):
        return self.run_sides(tool, [old], [new])

    def run_sides(self, tool, olds, news):
        """Run `tool` with each side's artifacts as a comma-separated list."""
        args = []
        for side, docs in (("old", olds), ("new", news)):
            paths = []
            for i, doc in enumerate(docs):
                path = os.path.join(self.dir.name, f"{side}{i}.json")
                with open(path, "w") as f:
                    json.dump(doc, f)
                paths.append(path)
            args.append(",".join(paths))
        return subprocess.run([sys.executable, os.path.join(TOOLS, tool), *args],
                              capture_output=True, text=True).returncode

    def test_clean_pair_passes(self):
        self.assertEqual(self.run_tool("regression_gate.py", artifact(BASE), artifact(BASE)), 0)

    def test_error_in_new_fails(self):
        new = artifact(dict(BASE, k2=-1.0), errors=["k2"])
        self.assertEqual(self.run_tool("regression_gate.py", artifact(BASE), new), 1)

    def test_missing_key_fails(self):
        new = artifact({k: v for k, v in BASE.items() if k != "k3"})
        self.assertEqual(self.run_tool("regression_gate.py", artifact(BASE), new), 1)

    def test_unchanged_digest_slowdown_fails(self):
        new = artifact(dict(BASE, k1=1.6))
        self.assertEqual(self.run_tool("regression_gate.py", artifact(BASE), new), 1)

    def test_changed_digest_slowdown_is_reported_not_gated(self):
        new = artifact(dict(BASE, k1=1.6), hashes={"k1": "other"})
        self.assertEqual(self.run_tool("regression_gate.py", artifact(BASE), new), 0)

    def test_plan_delta_compares_digest_sets_over_runs(self):
        # a build-side flip key: the old runs saw both digests
        olds = [artifact(BASE), artifact(BASE, hashes={"k1": "flip"})]
        inside = [artifact(BASE, hashes={"k1": "flip"}), artifact(BASE)]
        outside = [artifact(BASE), artifact(BASE, hashes={"k1": "new"})]
        self.assertEqual(self.run_sides("plan_delta.py", olds, inside), 0)
        self.assertEqual(self.run_sides("plan_delta.py", olds, outside), 1)
        # one file per side is the pairwise comparison
        self.assertEqual(self.run_tool("plan_delta.py", artifact(BASE),
                                       artifact(BASE, hashes={"k1": "flip"})), 1)

    def test_dump_digest_splits_at_table_headers(self):
        def dump(name, header, orders):
            path = os.path.join(self.dir.name, name)
            with open(path, "w") as f:
                f.write(f"-- graft dump {header}\n-- Table: region\nINSERT INTO region VALUES\n"
                        "(0,'AFRICA');\n-- Table: orders\n" + orders)
            return path
        a = dump("a.sql", "2024-01-01", "INSERT INTO orders VALUES\n(1),\n(2);\n")
        b = dump("b.sql", "2026-10-20", "INSERT INTO orders VALUES\n(1),\n(2);\n")
        c = dump("c.sql", "2024-01-01", "INSERT INTO orders VALUES\n(1),\n(3);\n")
        tool = [sys.executable, os.path.join(TOOLS, "dump_digest.py")]
        lines = subprocess.run(tool + [a], capture_output=True, text=True).stdout.splitlines()
        self.assertEqual([l.split("\t")[0] for l in lines], ["region", "orders"])
        body = "-- Table: orders\nINSERT INTO orders VALUES\n(1),\n(2);\n".encode()
        self.assertEqual(lines[1].split("\t")[1:],
                         [hashlib.sha256(body).hexdigest(), "2", str(len(body))])
        # the header's date is no table's bytes; a changed tuple is
        self.assertEqual(subprocess.run(tool + [a, b], capture_output=True).returncode, 0)
        self.assertEqual(subprocess.run(tool + [a, c], capture_output=True).returncode, 1)

    def test_mixed_timing_is_refused_by_every_tool(self):
        legacy = artifact(BASE, timing=None)  # no field: timed by count()
        for tool in ("regression_gate.py", "scaling_gate.py", "plan_delta.py",
                     "bench_delta.py", "scaling_report.py"):
            with self.subTest(tool=tool):
                self.assertEqual(self.run_tool(tool, legacy, artifact(BASE)), 2)


if __name__ == "__main__":
    unittest.main()
