"""Shared pytest fixtures.

One small local SparkSession per test run (local[4]); reuse across
tests keeps total suite time dominated by actual query work, not JVM
startup.
"""

from __future__ import annotations

import os
import struct
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


def _make_wav(samples: list[int], sample_rate: int = 8000, n_channels: int = 1) -> bytes:
    """Serialize a 16-bit PCM mono/interleaved WAV."""
    data = struct.pack(f"<{len(samples)}h", *samples)
    block_align = 2 * n_channels
    fmt = struct.pack("<HHIIHH", 1, n_channels, sample_rate, sample_rate * block_align, block_align, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


@pytest.fixture(scope="session")
def make_wav():
    """WAV fixture writer: ``make_wav(samples, sample_rate, n_channels)``."""
    return _make_wav
