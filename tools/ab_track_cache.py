"""Same-window interleaved A/B of a query WITH vs WITHOUT its
track_cache sites (round-12 verdict item 5: every residual per-query
cache must be measured-to-pay or removed).

For each named query, alternate executions A,B,A,B,... in ONE session
(A = as committed, B = track_cache monkeypatched to identity), time a
pure-aggregate tail over the full result, and compare medians.  Both
variants' bit_xor(xxhash64(struct(*))) checksums are asserted equal —
the no-cache variant must be value-identical, caching is plan-only.

Sites: ``margin_mine`` (the bitext queries), ``sensor_merge_fold``,
``source_rebalance``, ``curation_end_to_end`` and
``gopher_rule_attribution``.  The caches of ``important_parts`` and
``top_revenue_supplier`` lost this A/B (x0.75, x0.81) and are gone.

Usage: python tools/ab_track_cache.py SF_DIR REPS QUERY [QUERY ...]
"""

from __future__ import annotations

import json
import statistics
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

import tomasz_weight_tracker_spark.caching as C  # noqa: E402
from tomasz_weight_tracker_spark.plans import REGISTRY  # noqa: E402
from tomasz_weight_tracker_spark.session import get_spark, tune_for_scale  # noqa: E402

_REAL_TRACK = C.track_cache


def run_once(spark, sf_dir, name, cached: bool) -> tuple[float, int]:
    C.track_cache = _REAL_TRACK if cached else (lambda df: df)
    try:
        spark.sparkContext.setJobDescription(
            f"ab:{name}:{'cache' if cached else 'nocache'}"
        )
        t0 = time.time()
        df = REGISTRY[name].build(spark, sf_dir)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("h"),
        ).collect()[0]
        wall = time.time() - t0
        return wall, row.h
    finally:
        C.track_cache = _REAL_TRACK
        C.release_caches()
        spark.catalog.clearCache()


def main() -> None:
    sf_dir, reps = sys.argv[1], int(sys.argv[2])
    names = sys.argv[3:]
    spark = get_spark("ab-track-cache")
    tune_for_scale(spark, sf_dir)
    for name in names:
        walls = {True: [], False: []}
        hashes = set()
        run_once(spark, sf_dir, name, True)  # warm JVM/codegen, untimed
        for _ in range(reps):
            for cached in (True, False):
                w, h = run_once(spark, sf_dir, name, cached)
                walls[cached].append(w)
                hashes.add(h)
        assert len(hashes) == 1, f"{name}: checksum drift across variants!"
        med_c = statistics.median(walls[True])
        med_n = statistics.median(walls[False])
        print(
            json.dumps(
                {
                    "query": name,
                    "median_cached_s": round(med_c, 3),
                    "median_nocache_s": round(med_n, 3),
                    "cache_speedup": round(med_n / med_c, 2) if med_c else None,
                    "all_cached": [round(w, 3) for w in walls[True]],
                    "all_nocache": [round(w, 3) for w in walls[False]],
                    "sf_dir": sf_dir,
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
