"""One-shot verification driver: runs the full verify recipe
(.claude/skills/verify/SKILL.md) end to end and prints a single
PASS/FAIL summary line per stage — the same five surfaces the round
driver exercises, so "verify_all green" locally means the committed
tree is driver-ready.

Stages (each independently timed; any nonzero exit fails the run):
  1. drive_contract.py            (vanilla-session driver contract)
  2. drive_contract.py --tz ...   (timezone probe)
  3. check.py                     (full oracle battery at sf0.01)
  4. pytest tests/ -q             (unit/property/golden suites)
  5. rotation_audit.py            (three-round-window invariant)
  6. plan_snapshot.py             (plan-shape regression pins)

Usage: python tools/verify_all.py [--skip-pytest]
Exit 0 iff every stage passed.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

STAGES = [
    ("contract", [sys.executable, "tools/drive_contract.py"]),
    (
        "contract_tz",
        [sys.executable, "tools/drive_contract.py", "--tz", "America/New_York"],
    ),
    ("oracle_battery", [sys.executable, "tools/check.py"]),
    ("pytest", [sys.executable, "-m", "pytest", "tests/", "-q"]),
    ("rotation_audit", [sys.executable, "tools/rotation_audit.py"]),
    ("plan_snapshot", [sys.executable, "tools/plan_snapshot.py"]),
]


def main() -> int:
    skip_pytest = "--skip-pytest" in sys.argv
    failed = []
    for name, cmd in STAGES:
        if skip_pytest and name == "pytest":
            print(f"SKIP  {name}")
            continue
        t0 = time.monotonic()
        r = subprocess.run(
            cmd, cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            capture_output=True, text=True,
        )
        wall = time.monotonic() - t0
        ok = r.returncode == 0
        tail = (r.stdout or r.stderr).strip().splitlines()[-1:] or [""]
        print(f"{'PASS' if ok else 'FAIL'}  {name:16s} {wall:7.1f}s  {tail[0][:120]}")
        if not ok:
            failed.append(name)
    if failed:
        print(f"VERIFY FAILED: {', '.join(failed)}")
        return 1
    print("VERIFY ALL GREEN")
    return 0


if __name__ == "__main__":
    sys.exit(main())
