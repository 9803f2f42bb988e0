"""Per-query physical-plan audit: pushdown / pruning / join strategy /
codegen / Python-stage count for every registered query.

Usage: python tools/plan_audit.py [query ...]   (sf0.01 plans)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"


def main() -> None:
    from prohap_spark.plans import plan_report
    from prohap_spark.queries import queries
    from prohap_spark.session import get_spark

    spark = get_spark("plan-audit")
    only = set(sys.argv[1:])
    for name, fn in queries().items():
        if only and name not in only:
            continue
        try:
            rep = plan_report(fn(spark, SF_DIR), name)
        except Exception as e:  # noqa: BLE001
            rep = {"name": name, "error": str(e)[:120]}
        print(json.dumps(rep))
    spark.stop()


if __name__ == "__main__":
    main()
