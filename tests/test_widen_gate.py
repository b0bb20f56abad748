"""Plan-shape tests pinning the load() widen gate (round-12 verdict
item 2): the single-row-group round-robin widen must fire at the bench
SF (where the r12 driver measured its 1.9-4.1x wins), must NOT fire
below the bytes floor (sf0.001 — where the committed r12 _after dumps
were generated, hence showed no RoundRobin exchange), and must NOT
fire on a many-file input (the production layout, where the scan
already splits).
"""

from __future__ import annotations

import shutil
from contextlib import contextmanager

import pytest

from tomasz_weight_tracker_spark.plans import REGISTRY
from tomasz_weight_tracker_spark.plans.catalog import _file_splits, load

SMALL = "sf0.001"  # 64 KiB documents: below _WIDEN_MIN_BYTES
BENCH = "sf0.1"  # 584 KiB documents: gate on (1 split)


@pytest.fixture
def sf_small(sf_path):
    return sf_path(SMALL)


@pytest.fixture
def sf_bench(sf_path):
    return sf_path(BENCH)


def _formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _roundrobin(plan: str) -> bool:
    # Formatted mode renders the partitioning in the Exchange node's
    # Arguments detail line, not in the tree line.
    return "RoundRobinPartitioning" in plan


class TestWidenGate:
    def test_gate_on_at_bench_sf(self, spark, sf_bench):
        plan = _formatted(load(spark, sf_bench, "documents"))
        assert _roundrobin(plan), plan[:1500]

    def test_gate_off_below_bytes_floor(self, spark, sf_small):
        plan = _formatted(load(spark, sf_small, "documents"))
        assert not _roundrobin(plan), plan[:1500]

    def test_gate_off_on_many_file_input(self, spark, sf_bench, tmp_path):
        # A multi-file documents table has nparts > cores/4 at local[4]:
        # the scan already parallelizes, so the widen must be a no-op.
        path = str(tmp_path / "documents.parquet")
        load(spark, sf_bench, "documents", widen=False).repartition(4).write.parquet(
            path
        )
        plan = _formatted(load(spark, str(tmp_path), "documents"))
        assert not _roundrobin(plan), plan[:1500]

    def test_widened_headline_query_at_bench_sf(self, spark, sf_bench, sf_small):
        # minhash_signature is one of the 11 queries the r12 driver
        # measured the widen on (2.0x): the exchange must be in its
        # plan at the bench SF and absent below the floor.
        on = _formatted(REGISTRY["minhash_signature"].build(spark, sf_bench))
        off = _formatted(REGISTRY["minhash_signature"].build(spark, sf_small))
        assert _roundrobin(on), on[:1500]
        assert not _roundrobin(off), off[:1500]

    def test_optout_query_never_widens(self, spark, sf_bench):
        # exact_dedup opts out at its load site (measured x0.51 WITH
        # widen): no round-robin exchange even at the bench SF.
        plan = _formatted(REGISTRY["exact_dedup"].build(spark, sf_bench))
        assert not _roundrobin(plan), plan[:1500]


@contextmanager
def _max_partition_bytes(spark, value: str):
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


class TestFileSplits:
    """The split math reads maxPartitionBytes as Spark resolved it: the
    conf string keeps its unit, so parsing it as a byte count fails."""

    @pytest.mark.parametrize(
        "conf, size, splits",
        [
            ("64m", 100 << 20, 2),
            ("1g", 200 << 20, 1),
            (str(32 << 20), 100 << 20, 4),
        ],
    )
    def test_split_count_honours_unit(self, spark, conf, size, splits):
        with _max_partition_bytes(spark, conf):
            assert _file_splits(spark, [size, 1]) == splits + 1

    def test_gate_off_when_unit_limit_splits_the_file(self, spark, sf_bench, tmp_path):
        # 584 KiB over a "64k" split limit is 10 splits: the scan already
        # parallelizes, so the widen must not fire.
        shutil.copy(f"{sf_bench}/documents.parquet", tmp_path / "documents.parquet")
        with _max_partition_bytes(spark, "64k"):
            plan = _formatted(load(spark, str(tmp_path), "documents"))
        assert not _roundrobin(plan), plan[:1500]
