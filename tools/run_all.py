"""One-shot validation: correctness gate + plan audit + tests + bench.

The full pre-commit / pre-round pipeline in one command. Exits nonzero
if any stage fails.

Usage: python tools/run_all.py [--fast]
  --fast: plan and scan audits + pytest -x only (quick iteration loop)
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

STEPS_FULL = [
    ("oracle gate (sf0.01)",
     [sys.executable, "tools/check_correctness.py", "/root/testdata/sf0.01"]),
    ("plan audit",
     [sys.executable, "tools/audit_plans.py"]),
    ("scan-amplification audit",
     [sys.executable, "tools/audit_scans.py"]),
    ("bare-session gate (driver-env parity)",
     [sys.executable, "tools/check_bare_session.py", "/root/testdata/sf0.01"]),
    ("pytest",
     [sys.executable, "-m", "pytest", "tests/", "-q"]),
    ("bench (sf0.1)",
     [sys.executable, "bench.py"]),
]

# No sf0.001 oracle gate here: pytest's tests/test_oracles.py runs the
# same comparison over every query at that scale.
STEPS_FAST = [
    ("plan audit",
     [sys.executable, "tools/audit_plans.py"]),
    ("scan-amplification audit",
     [sys.executable, "tools/audit_scans.py"]),
    ("pytest",
     [sys.executable, "-m", "pytest", "tests/", "-q", "-x"]),
]


def main() -> int:
    steps = STEPS_FAST if "--fast" in sys.argv else STEPS_FULL
    for name, cmd in steps:
        t0 = time.time()
        print(f"--> {name}", flush=True)
        rc = subprocess.run(cmd, cwd=ROOT).returncode
        print(f"<-- {name}: {'OK' if rc == 0 else f'FAILED ({rc})'} "
              f"[{time.time() - t0:.0f}s]", flush=True)
        if rc != 0:
            return rc
    print("ALL GREEN")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
