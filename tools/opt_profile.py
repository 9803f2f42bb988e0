"""Optimization profiler: isolate each bench query with the noop sink,
label its jobs, capture .explain("formatted") to
<plans-dir>/<name>_<tag>.txt, and print per-query wall seconds.

Usage:
    python tools/opt_profile.py --plans-dir plans/r16 [--tag before|after]
        [--passes 3] [--no-run] [q ...]

Uses bench.py's builder list (bench_builders) so the timed computation
is EXACTLY the bench's shape; runs one warm pass then N timed passes
and reports the min (bench protocol).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query names (default: all)")
    ap.add_argument("--tag", default=None, help="save plans as <name>_<tag>.txt")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--no-run", action="store_true", help="plans only, no timing")
    ap.add_argument("--plans-dir", required=True, help="directory for --tag plan dumps")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from bench import bench_builders
    from prohap_spark.session import get_spark

    spark = get_spark("opt-profile")
    builders = dict(bench_builders(spark, sf_dir))
    names = args.names or list(builders)

    os.makedirs(args.plans_dir, exist_ok=True)

    results = {}
    for name in names:
        if name not in builders:
            print(f"SKIP {name}: unknown", flush=True)
            continue
        spark.sparkContext.setJobDescription(f"profile:{name}")
        df = builders[name]()
        if args.tag:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(args.plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(buf.getvalue())
        if args.no_run:
            continue
        # warm pass
        df.write.format("noop").mode("overwrite").save()
        times = []
        for _ in range(args.passes):
            spark.catalog.clearCache()
            import gc

            gc.collect()
            df = builders[name]()  # fresh frame per pass (bench protocol)
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.time() - t0)
        results[name] = round(min(times), 3)
        print(f"{name}: min={min(times):.3f} all={[round(t,3) for t in times]}",
              flush=True)
        spark.sparkContext.setJobDescription(None)
    if results:
        print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
