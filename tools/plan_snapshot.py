"""Plan-shape regression harness: pins the PHYSICAL-PLAN structure of
the engine's structurally-important queries against a committed
snapshot (PLAN_SNAPSHOTS.json), so a Catalyst-shape regression — a
broadcast degrading to a shuffle, a new exchange, a Python stage
appearing in a JVM path, a scan multiplying — fails a check instead
of silently shipping. The per-query pytest pins cover specific
contracts; this covers DRIFT on everything listed, round over round.

The compared fingerprint is structural only (join strategy counts,
exchange count, Python-stage count, scans per file) — volatile
details like pushed-filter strings or codegen stage ids are NOT
compared, so Spark-version formatting noise can't false-alarm.

Usage:
  python tools/plan_snapshot.py            # check against snapshot
  python tools/plan_snapshot.py --update   # re-baseline after an
                                           # INTENTIONAL plan change
Exit 0 = no drift; 1 = drift listed (or missing snapshot).

Queries are built at sf0.01 (plan shape is SF-independent for these:
no AQE re-plan is captured — plans are inspected pre-execution).
Only side-effect-free builds are listed: boards that execute streams
or write artifacts at build time are excluded by design.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.01"
SNAPSHOT = os.path.join(ROOT, "PLAN_SNAPSHOTS.json")

# side-effect-free, structurally load-bearing queries
QUERIES = [
    "q1_pricing_summary",
    "j2_normalized_key_join",
    "j3_star_dim_join",
    "j4_semi_join",
    "j10_asof_join",
    "j11_anti_join",
    "topk_per_group",
    "a2_signature_grouping",
    "a7_priority_dedup",
    "f4_isin_filter",
    "q21_suppliers_kept_waiting",
    "text_line_dedup",
    "pack_context_windows",
    "text_bm25_topk",
    "dedup_cluster_board",
    "u4_peptide_classes",
    "j6_explode_equijoin",
    "w5_running_offset",
    "so_set_ops",
    "hybrid_search_rrf",
    "sim_lsh_ann",
    "text_token_counts",
    "text_quality_board",
    "f1_regex_threshold",
    # r13: the integer-projection join-back shape (2 extra broadcast
    # joins, never a shuffle) and the 4-leg streaming board
    "sim_ivf_board",
    "stream_window_board",
]

# the drift-sensitive structural keys (see module docstring)
KEYS = [
    "broadcast_joins",
    "sortmerge_joins",
    "bnl_joins",
    "exchanges",
    "python_stages",
    "scans_per_file",
]


def fingerprint(spark) -> dict:
    from prohap_spark.plans.inspect import plan_report
    from prohap_spark.queries import queries

    q = queries()
    out = {}
    for name in QUERIES:
        rep = plan_report(q[name](spark, SF_DIR), name)
        out[name] = {k: rep[k] for k in KEYS}
    return out


def main() -> int:
    from prohap_spark.session import get_spark

    spark = get_spark("plan-snapshot")
    got = fingerprint(spark)
    spark.stop()

    if "--update" in sys.argv:
        with open(SNAPSHOT, "w") as f:
            json.dump(got, f, indent=1, sort_keys=True)
        print(f"snapshot updated: {len(got)} queries -> {SNAPSHOT}")
        return 0

    try:
        with open(SNAPSHOT) as f:
            want = json.load(f)
    except FileNotFoundError:
        print(f"no snapshot at {SNAPSHOT} — run with --update first")
        return 1

    drift = []
    for name in QUERIES:
        if name not in want:
            drift.append(f"{name}: not in snapshot (new query — --update)")
            continue
        for k in KEYS:
            if got[name][k] != want[name][k]:
                drift.append(
                    f"{name}.{k}: snapshot {want[name][k]!r} -> now {got[name][k]!r}"
                )
    for name in sorted(set(want) - set(QUERIES)):
        drift.append(f"{name}: in snapshot but no longer listed (--update)")

    if drift:
        print(f"{len(drift)} PLAN DRIFTS:")
        for d in drift:
            print(" -", d)
        return 1
    print(f"plan snapshot HOLDS: {len(QUERIES)} queries structurally unchanged")
    return 0


if __name__ == "__main__":
    sys.exit(main())
