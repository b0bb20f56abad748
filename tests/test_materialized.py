"""Materialized catalog queries (plans/materialized.py): freshness is
decided by input file state; reads never recompute while fresh and
always recompute when an input changes.
"""

from __future__ import annotations

import os
from pathlib import Path

import pytest

from tomasz_weight_tracker_spark.plans import materialized as M


@pytest.fixture
def sf(sf_path):
    return sf_path("sf0.001")


class TestMaterialized:
    def test_roundtrip_and_freshness(self, spark, tmp_path, sf):
        out = tmp_path / "mv"
        df = M.materialize(spark, "pricing_summary", sf, out)
        assert df.count() == 6
        assert M.is_fresh("pricing_summary", sf, out)
        # Fresh read serves the stored files: the data directory's
        # mtime must not change (no rewrite happened).
        before = os.stat(out / "data").st_mtime_ns
        got = M.read_materialized(spark, "pricing_summary", sf, out)
        assert got.count() == 6
        assert os.stat(out / "data").st_mtime_ns == before

    def test_input_change_marks_stale(self, spark, tmp_path, monkeypatch, sf):
        out = tmp_path / "mv"
        M.materialize(spark, "global_summary", sf, out)
        assert M.is_fresh("global_summary", sf, out)

        # Simulate an input mutation by patching the observed state —
        # the real inputs are read-only test fixtures.
        real = M._input_state

        def bumped(sf_dir):
            s = real(sf_dir)
            s["lineitem.parquet"] = [s["lineitem.parquet"][0], 1]
            return s

        monkeypatch.setattr(M, "_input_state", bumped)
        assert not M.is_fresh("global_summary", sf, out)
        M.read_materialized(spark, "global_summary", sf, out)  # re-materializes
        assert M.is_fresh("global_summary", sf, out)

    def test_different_query_or_dir_is_not_fresh(self, spark, tmp_path, sf, sf_path):
        out = tmp_path / "mv"
        M.materialize(spark, "global_summary", sf, out)
        assert not M.is_fresh("pricing_summary", sf, out)
        assert not M.is_fresh("global_summary", sf_path("sf0.01"), out)
