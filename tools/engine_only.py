"""Engine-side-only run of catalog queries whose ORACLE is
resource-infeasible at a given scale: materializes the full result
JVM-side (count + order-insensitive xxhash64 checksum — no driver
collect) and prints one JSON row per query.

This is the honest companion to a bounded-slice value check: the slice
twin proves VALUES at the same scale; this proves the full-scale
engine run COMPLETES and records its size/fingerprint/wall.

Usage: python tools/engine_only.py SF_DIR QUERY [QUERY ...]
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    from tomasz_weight_tracker_spark.plans import REGISTRY
    from tomasz_weight_tracker_spark.session import get_spark

    spark = get_spark("engine-only")
    for name in names:
        t0 = time.time()
        df = REGISTRY[name].build(spark, sf_dir)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("h"),
        ).collect()[0]
        wall = time.time() - t0
        print(
            json.dumps(
                {
                    "name": name,
                    "rows": row.n,
                    "xor_hash": row.h,
                    "wall_s": round(wall, 2),
                    "sf_dir": sf_dir,
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
