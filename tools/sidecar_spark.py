"""Spark-side-only rerun of the bench.py catalog sidecar.

Same methodology as bench.py's queries_full loop (fresh session, one
untimed warm build+materialize, then one timed build+materialize) but
skips the DuckDB side — for quick A/B of engine
changes against the committed BENCH_FULL.json duck timings.

Usage: python tools/sidecar_spark.py [sf_dir] [out.json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import materialize  # noqa: E402
from tomasz_weight_tracker_spark.plans.catalog import LAYOUT_WRITE_S  # noqa: E402
from tomasz_weight_tracker_spark.plans import REGISTRY  # noqa: E402
from tomasz_weight_tracker_spark.session import get_spark, tune_for_scale  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sidecar_spark.json"
    spark = get_spark("sidecar-spark")
    spark.sparkContext.setLogLevel("ERROR")
    n_part = tune_for_scale(spark, sf_dir)
    print(f"# shuffle.partitions={n_part}", file=sys.stderr, flush=True)
    out = {}
    for name in sorted(REGISTRY):
        q = REGISTRY[name]
        entry = {}
        try:
            LAYOUT_WRITE_S.pop(name, None)
            t0 = time.time()
            materialize(q.build(spark, sf_dir))
            entry["t_cold"] = round(time.time() - t0, 2)
            LAYOUT_WRITE_S.pop(name, None)
            t0 = time.time()
            materialize(q.build(spark, sf_dir))
            entry["t_spark"] = round(time.time() - t0, 2)
        except Exception as e:  # noqa: BLE001
            entry["t_spark_err"] = str(e)[:200]
        out[name] = entry
        print(f"# {name}: {entry}", file=sys.stderr, flush=True)
    with open(out_path, "w") as f:
        json.dump({"sf_dir": sf_dir, "shuffle_partitions": n_part, "queries": out}, f, indent=1)
    tot = sum(v.get("t_spark", 0) for v in out.values())
    errs = [k for k, v in out.items() if "t_spark_err" in v]
    print(json.dumps({"total_t_spark": round(tot, 1), "n": len(out), "errors": errs}))


if __name__ == "__main__":
    main()
