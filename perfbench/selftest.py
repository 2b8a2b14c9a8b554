#!/usr/bin/env python3
"""The harness's own test: feeds a corrupted digest and a throwing query
through the harness's query runner and checks that both are counted as
failed operations with their class and message. Exits 0 when they are.

    python3 perfbench/selftest.py
"""
import json
import sys

from run import build, launch


def main():
    build()
    rec, log = launch("perfbench.SelfTest", [], "selftest")
    if rec is None:
        sys.exit(f"perfbench: self-test did not finish; see {log}")
    print(json.dumps(rec, indent=1))
    print("self-test " + ("passed" if rec["passed"] else "FAILED"))
    sys.exit(0 if rec["passed"] else 1)


if __name__ == "__main__":
    main()
