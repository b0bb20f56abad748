"""Concurrent query execution: one SparkSession serving several
threads must return the same results as serial execution — the
multi-user posture of a shared engine (thread-confined DataFrames,
shared session state, no cross-query interference via the scan cache
in plans.catalog.load).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest

from tomasz_weight_tracker_spark.plans import REGISTRY


@pytest.fixture
def sf(sf_path):
    return sf_path("sf0.001")


QUERIES = ["pricing_summary", "revenue_by_nation", "doc_token_stats", "top_orders"]


def _run(spark, sf, name):
    df = REGISTRY[name].build(spark, sf)
    rows = sorted(tuple(str(v) for v in r) for r in df.collect())
    return name, rows


class TestConcurrentQueries:
    def test_parallel_matches_serial(self, spark, sf):
        serial = {name: _run(spark, sf, name)[1] for name in QUERIES}
        with ThreadPoolExecutor(max_workers=4) as pool:
            parallel = dict(pool.map(lambda n: _run(spark, sf, n), QUERIES * 2))
        for name in QUERIES:
            assert parallel[name] == serial[name], name
