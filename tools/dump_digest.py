#!/usr/bin/env python3
"""Per-table SHA-256, tuple count and byte count of a graft SQL dump.

Usage: python3 tools/dump_digest.py DUMP.sql [OTHER.sql]

A dump is split at the writer's `-- Table: <name>` section headers; the
file header before the first section (it carries the export date) is not
part of any section. Each section's digest covers its lines, each with
its newline, in UTF-8; a tuple is a line that starts with "(". Prints one
tab-separated line per table: name, sha256, tuples, bytes. The split
and the digests are those of perfbench's `DumpDigest`.

With a second dump, prints the tables whose sections differ (or exist in
one dump only) and exits 1 if there are any, 0 if every section matches.
"""
import hashlib
import sys


def digest(path):
    """{table: (sha256 hex, tuples, bytes)} in file order."""
    out = {}
    name, md, rows, size = None, None, 0, 0

    def close():
        if name is not None:
            out[name] = (md.hexdigest(), rows, size)

    # universal newlines end a line at \n, \r or \r\n, as Java's
    # BufferedReader.readLine does in perfbench's DumpDigest
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.rstrip("\n")
            if line.startswith("-- Table: "):
                close()
                name = line[len("-- Table: "):].strip()
                md, rows, size = hashlib.sha256(), 0, 0
            if name is not None:
                b = (line + "\n").encode("utf-8")
                md.update(b)
                size += len(b)
                if line.startswith("("):
                    rows += 1
    close()
    return out


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a = digest(argv[1])
    if len(argv) == 2:
        for t, (sha, rows, size) in a.items():
            print(f"{t}\t{sha}\t{rows}\t{size}")
        return 0
    b = digest(argv[2])
    differ = [t for t in list(a) + [t for t in b if t not in a] if a.get(t) != b.get(t)]
    for t in differ:
        print(f"{t}\t{a.get(t)}\t{b.get(t)}")
    print(f"{len(differ)} of {len(set(a) | set(b))} table sections differ", file=sys.stderr)
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
