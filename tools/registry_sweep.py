"""Full-registry wall-time sweep at sf0.1 (r9's blind-spot closer,
made a permanent tool in r10): the bench times 25 headline queries;
the other ~125 registered queries only ever run at sf0.01 through the
correctness harness — which is how dedup_jaccard_pairs sat at 125 s
(sf0.1) for two rounds without anyone noticing. This sweep counts()
every registered query at sf0.1 once and prints per-query wall,
slowest-first, so out-of-family walls surface every round.

Usage: python tools/registry_sweep.py [min_sec_to_print]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"
MIN_PRINT = float(sys.argv[1]) if len(sys.argv) > 1 else 0.0


def main() -> None:
    from prohap_spark.queries import queries
    from prohap_spark.session import get_spark

    spark = get_spark("registry-sweep")
    walls: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, fn in queries().items():
        t0 = time.monotonic()
        try:
            fn(spark, SF_DIR).count()
            walls[name] = round(time.monotonic() - t0, 2)
        except Exception as e:  # noqa: BLE001 — a sweep reports, never dies
            errors[name] = f"{type(e).__name__}: {e}"[:200]
    for name, w in sorted(walls.items(), key=lambda kv: -kv[1]):
        if w >= MIN_PRINT:
            print(f"{w:8.2f}s  {name}")
    print(
        json.dumps(
            {
                "n_queries": len(walls),
                "total_sec": round(sum(walls.values()), 1),
                "max_sec": max(walls.values(), default=0.0),
                "errors": errors,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
