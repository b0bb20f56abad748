"""Interactive parameterized re-execution: same template, new
literals, correct re-filtering (the reference's Streamlit loop twin)."""

from __future__ import annotations

import pytest

from tomasz_weight_tracker_spark.plans.interactive import InteractiveSession


@pytest.fixture
def sf(sf_path):
    return sf_path("sf0.001")


class TestInteractiveSession:
    def test_rerun_with_new_literals(self, spark, sf):
        s = InteractiveSession(spark, sf, tables=["orders"])
        s.register(
            "big_orders",
            "SELECT count(*) AS n FROM orders WHERE o_totalprice > :threshold",
        )
        n_low = s.run("big_orders", threshold=1000.0).first().n
        n_high = s.run("big_orders", threshold=200000.0).first().n
        n_all = s.run("big_orders", threshold=-1.0).first().n
        assert n_all >= n_low > n_high  # tighter literal -> fewer rows
        total = spark.read.parquet(f"{sf}/orders.parquet").count()
        assert n_all == total

    def test_parameters_are_bound_not_interpolated(self, spark, sf):
        s = InteractiveSession(spark, sf, tables=["orders"])
        s.register(
            "by_priority",
            "SELECT count(*) AS n FROM orders WHERE o_orderpriority = :p",
        )
        # A hostile literal is just a string value, never SQL text.
        assert s.run("by_priority", p="1-URGENT' OR '1'='1").first().n == 0
        assert s.run("by_priority", p="1-URGENT").first().n > 0

    def test_pushdown_reapplies_per_literal(self, spark, sf):
        s = InteractiveSession(spark, sf, tables=["orders"])
        df = s.sql("SELECT o_orderkey FROM orders WHERE o_totalprice > :t", t=50000.0)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan or "o_totalprice" in plan
