#!/usr/bin/env python
"""Round-close checklist, mechanized (judge r6 item 8).

Run this ONCE at the start of every round, right after the driver's new
CORRECTNESS_r{N}.json lands (and again any time queries are added), so the
generated artifacts can never be the stale file a round trips on:

    python scripts/round_close.py

Steps, in order, fail-fast:
  1. scripts/gen_driver_recorded.py  — regenerate plans/driver_recorded.py
     from the CORRECTNESS_r*.json artifacts (clears the designed pytest
     tripwire at tests/test_registry_order.py and re-front-loads the
     never-attested queries into the next round's 50-row driver window).
  2. scripts/gen_coverage.py         — regenerate COVERAGE.md from the live
     registry.
  3. pytest tests/test_registry_order.py — prove the generated set, the
     artifacts, and the live registry agree and the driver window contains
     only unattested queries.

Exit 0 = the round's bookkeeping is consistent; any failure prints the
offending step and propagates its exit code.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

STEPS: list[list[str]] = [
    [sys.executable, os.path.join(REPO, "scripts", "gen_driver_recorded.py")],
    [sys.executable, os.path.join(REPO, "scripts", "gen_coverage.py")],
    [
        sys.executable,
        "-m",
        "pytest",
        os.path.join(REPO, "tests", "test_registry_order.py"),
        "-q",
    ],
]


def main() -> int:
    for cmd in STEPS:
        label = " ".join(os.path.basename(c) for c in cmd[1:])
        print(f"== round_close: {label}")
        rc = subprocess.call(cmd, cwd=REPO)
        if rc != 0:
            print(f"round_close FAILED at: {label} (exit {rc})")
            return rc
    print("round_close: all green")
    return 0


if __name__ == "__main__":
    sys.exit(main())
