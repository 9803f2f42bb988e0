"""Mechanical audit of the query-rotation invariant.

The correctness harness checks ~50 registry entries per round
(dict order = `_FRONT + mid + _BACK` in prohap_spark/queries/
__init__.py). The rotation rule (restated r6, when the registry
outgrew a 2x50 budget) promises: every registered query is hash-green
within any trailing THREE-round window (registry <= 3 x 50 budget;
the live count is printed by every run — no hardcoded number to go
stale). This script verifies that promise against the actual
CORRECTNESS_r*.json files:

  for every registered query NOT in the current front window, there
  must be a hash-green row (or a rows-only `no_oracle` row, for the
  by-design entries) in one of the TWO most recent rounds — so that
  together with the current round's front, every query is green
  within the trailing three-round window. Additionally, a query that
  errored or went hash-red in the most recent round must be
  front-listed (rule b), and a never-driver-checked query must be
  front-listed the round after it first registers (rule a).

Usage: python tools/rotation_audit.py [--budget 50]
Exit 0 = invariant holds; 1 = violations listed.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

BUDGET = 50
if "--budget" in sys.argv:
    BUDGET = int(sys.argv[sys.argv.index("--budget") + 1])


def _is_green(row: dict) -> bool:
    """A row counts toward the window if hash-green, or rows-only for a
    by-design no-oracle entry (caller filters has_oracle mismatches)."""
    if row.get("err") == "no_oracle":
        return True
    return row.get("err") is None and bool(row.get("hash_match"))


def main() -> int:
    from prohap_spark.queries import _ordered, oracle_sql, ROWS_ONLY_BY_DESIGN

    rounds = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r(\d+)\.json$", path)
        with open(path) as f:
            rounds[int(m.group(1))] = json.load(f)
    if not rounds:
        print("no CORRECTNESS files found")
        return 1
    latest = max(rounds)
    window = [r for r in (latest, latest - 1) if r in rounds]

    order = _ordered()
    front = set(order[:BUDGET])
    has_oracle = set(oracle_sql())

    ever_checked = {n for r in rounds.values() for n in r}

    # Registration manifest: records the build round (latest + 1) each
    # query name was FIRST seen by this audit, so a never-driver-checked
    # query can only claim the "registered this round" exemption ONCE —
    # without it, a forgotten mid-registry query would stay exempt
    # forever and the window invariant would be silently waived.
    manifest_path = os.path.join(ROOT, "ROTATION_MANIFEST.json")
    build_round = latest + 1
    try:
        with open(manifest_path) as f:
            first_seen = json.load(f)
    except FileNotFoundError:
        first_seen = {}
    for name in order:
        first_seen.setdefault(name, build_round)
    with open(manifest_path, "w") as f:
        json.dump(first_seen, f, indent=1, sort_keys=True)

    violations = []
    new_waiting = []
    next_due = []  # dark in `latest` but green in latest-1: r(latest+2) front
    for name in order:
        if name in front:
            continue  # will be checked this round

        # rule (b): bad result in the most recent round -> must front now
        last_row = rounds[latest].get(name)
        if last_row is not None:
            if last_row.get("err") == "no_oracle" and name in has_oracle:
                violations.append(f"{name}: has an oracle but r{latest} "
                                  "recorded no_oracle")
                continue
            if last_row.get("err") not in (None, "no_oracle"):
                violations.append(f"{name}: errored in r{latest} "
                                  f"({last_row['err']}) but not front-listed "
                                  "(rule b)")
                continue
            if last_row.get("err") is None and not last_row.get("hash_match"):
                violations.append(f"{name}: hash-red in r{latest} but not "
                                  "front-listed (rule b)")
                continue

        # window rule: green somewhere in the two most recent rounds
        green_rounds = [r for r in window
                        if name in rounds[r] and _is_green(rounds[r][name])
                        and not (rounds[r][name].get("err") == "no_oracle"
                                 and name in has_oracle)]
        if green_rounds:
            if latest not in green_rounds:
                next_due.append(name)
            continue

        if name not in ever_checked:
            if first_seen[name] >= build_round:
                # brand-new registration that didn't fit the current
                # front budget: no prior-round obligation — it becomes
                # a rule-(a) MUST-front next round (reported, not a
                # violation)
                new_waiting.append(name)
            else:
                violations.append(
                    f"{name}: registered in r{first_seen[name]}, never "
                    "driver-checked, and still not front-listed (rule a)"
                )
        else:
            last = max(r for r in rounds if name in rounds[r])
            violations.append(f"{name}: last checked r{last} — dark in the "
                              f"r{min(window)}..r{latest} window AND not "
                              "front now (would go dark three rounds "
                              "running)")

    # every no-oracle entry must carry a documented reason, and every
    # documented reason must point at a live no-oracle entry — a
    # rows-only CORRECTNESS row without a reason is a missing oracle,
    # not a design decision (r6 verdict, What's-missing #4)
    no_oracle = set(order) - has_oracle
    for name in sorted(no_oracle - set(ROWS_ONLY_BY_DESIGN)):
        violations.append(f"{name}: registered without an oracle but not "
                          "documented in ROWS_ONLY_BY_DESIGN")
    for name in sorted(set(ROWS_ONLY_BY_DESIGN) - no_oracle):
        violations.append(f"{name}: documented as rows-only-by-design but "
                          "has an oracle (stale doc entry)")

    print(f"registry: {len(order)}  front window: {len(front)} "
          f"(budget {BUDGET})  latest round: r{latest}  "
          f"window audited: r{min(window)}..r{latest}+front")
    print(f"{len(no_oracle)} documented rows-only-by-design entries: "
          f"{', '.join(sorted(no_oracle))}")
    if new_waiting:
        print(f"{len(new_waiting)} new mid-registry entries awaiting their "
              f"rule-(a) front slot next round: {', '.join(new_waiting)}")
    if next_due:
        print(f"{len(next_due)} entries last green in r{latest - 1} — they "
              f"are the r{build_round + 1} rule-(c) front obligations: "
              f"{', '.join(next_due)}")
    if violations:
        print(f"\n{len(violations)} VIOLATIONS:")
        for v in violations:
            print(" -", v)
        return 1
    print("rotation invariant HOLDS: every non-front query is green within "
          f"the trailing window ending r{latest}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
