"""Pin the output digest of every workload for a range of seeds.

    python3 perfbench/pin.py --seeds 0-49

Runs each workload's entry point once per seed in one warm session and
records the order-insensitive output digest in ``digests.json`` under
the input key (generator version plus sizes). The benchmark compares
every run against these. Re-pin only when the inputs or the program's
intended output change.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil

from gen import generate, input_key
from run import WORK, drop_cached, prepare_environment, start_session, stop_session
from workloads import DIGESTS_FILE, WORKLOADS, output_digest, run_entry_point


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="0-49", help="inclusive range, e.g. 0-49")
    args = ap.parse_args()
    prepare_environment()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    pins = {}
    if os.path.exists(DIGESTS_FILE):
        with open(DIGESTS_FILE) as f:
            pins = json.load(f)
    spark, _ = start_session()
    cache = os.path.join(WORK, "pin-inputs")
    for name, w in WORKLOADS.items():
        table = pins.setdefault(input_key(name, w.sizes), {})
        for seed in range(lo, hi + 1):
            d = generate(name, seed, w.sizes, cache)
            drop_cached(spark)
            res = output_digest(w, run_entry_point(spark, w, d, os.path.join(WORK, "out", "pin")), d)
            shutil.rmtree(d)
            table[str(seed)] = res["digest"]
            print(f"{name} seed={seed} {res}")
    stop_session(spark)
    with open(DIGESTS_FILE, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
