#!/usr/bin/env python3
"""Record each workload query's row count and order-insensitive row hash
into perfbench/expected.tsv. Run from the root of the tree whose outputs
are the reference (each query is run twice and must repeat exactly).

    python3 perfbench/record.py
"""
import sys

from run import build, launch


def main():
    build()
    rec, log = launch("perfbench.Record", [], "record")
    if rec is None:
        sys.exit(f"perfbench: recording failed; see {log}")
    with open("perfbench/expected.tsv", "w") as fh:
        fh.write("".join(line + "\n" for line in rec))
    print(f"recorded {len(rec)} queries in perfbench/expected.tsv")


if __name__ == "__main__":
    main()
