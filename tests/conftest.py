"""Shared pytest fixtures.

One small local SparkSession per test run (local[4]); reuse across
tests keeps total suite time dominated by actual query work, not JVM
startup.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tomasz_weight_tracker_spark.session import get_spark  # noqa: E402

TESTDATA = "/root/testdata"


@pytest.fixture(scope="session")
def sf_path():
    """``sf_path("sf0.01")`` -> that scale factor's test-data directory;
    the calling test is skipped when the directory is absent."""

    def resolve(sf: str) -> str:
        path = os.path.join(TESTDATA, sf)
        if not os.path.isdir(path):
            pytest.skip(f"test data {path} is absent")
        return path

    return resolve


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def duck(sf_path):
    import duckdb

    sf_small = sf_path("sf0.001")
    con = duckdb.connect()
    tables = (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_small}/{t}.parquet')"
        )
    yield con
    con.close()
