#!/usr/bin/env python
"""Close-out command: the full test suite, every sweep axis, then the
artifact freshness guard. Every step runs even after a failure; the
exit code is non-zero if any step failed.

    python tools/closeout.py
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.sweep import AXES  # noqa: E402

STEPS = [
    [sys.executable, "-m", "pytest", "tests/", "-q", "-m", "slow or not slow"]
    + ["-p", "no:cacheprovider"],
    *([sys.executable, "tools/sweep.py", axis] for axis in AXES),
    [sys.executable, "tools/check_artifacts.py"],
]


def main() -> int:
    failed = []
    for cmd in STEPS:
        print(f"== {' '.join(cmd[1:])}", flush=True)
        rc = subprocess.call(cmd, cwd=REPO)
        if rc:
            failed.append(f"{' '.join(cmd[1:])} (exit {rc})")
    for step in failed:
        print(f"FAILED: {step}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
