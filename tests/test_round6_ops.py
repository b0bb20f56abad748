"""Round-6 operator tests: the executed skew-join mitigation and the
catalog/bench surfaces added this round."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


@pytest.fixture
def sf(sf_path):
    return sf_path("sf0.001")


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


class TestSpanDedupRebuild:
    def test_shared_chunk_removed_from_all_docs(self, spark, tmp_path):
        from tomasz_weight_tracker_spark.plans.dedup_lsh import (
            _SPAN_K,
            q_span_dedup_rebuild,
        )

        assert _SPAN_K == 8
        chunk_a = " ".join(f"a{i}" for i in range(8))
        chunk_b = " ".join(f"b{i}" for i in range(8))
        chunk_c = " ".join(f"c{i}" for i in range(8))
        rows = [
            (1, f"{chunk_a} {chunk_b}", "en", "s", 0),
            (2, f"{chunk_a} {chunk_c}", "en", "s", 0),
            (3, "unique words only here", "en", "s", 0),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        path = str(tmp_path / "docs")
        df.write.parquet(path + "/documents.parquet")
        out = {r.doc_id: r for r in q_span_dedup_rebuild(spark, path).collect()}
        # chunk_a appears in docs 1 AND 2 -> removed from both; their
        # private second chunks survive.
        assert out[1].n_chunks == 2 and out[1].n_dup_chunks == 1
        assert out[1].kept_text == chunk_b
        assert out[2].kept_text == chunk_c
        # doc 3 is one short (<K tokens) unique chunk -> untouched.
        assert out[3].n_chunks == 1 and out[3].n_dup_chunks == 0
        assert out[3].kept_text == "unique words only here"

    def test_fully_duplicated_doc_rebuilds_empty(self, spark, tmp_path):
        from tomasz_weight_tracker_spark.plans.dedup_lsh import q_span_dedup_rebuild

        text = " ".join(f"w{i}" for i in range(16))  # two aligned chunks
        rows = [(1, text, "en", "s", 0), (2, text, "en", "s", 0)]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        path = str(tmp_path / "docs")
        df.write.parquet(path + "/documents.parquet")
        out = {r.doc_id: r for r in q_span_dedup_rebuild(spark, path).collect()}
        assert out[1].n_dup_chunks == 2 and out[1].kept_text == ""
        assert out[2].n_dup_chunks == 2 and out[2].kept_text == ""


class TestBucketedJoinOrders:
    def test_join_is_exchange_free(self, spark, sf):
        """Both sides are bucketed+sorted on the customer key, so the
        join itself needs no exchange AND no sort — the only shuffle in
        the plan is the final |segments|-row aggregation."""
        from tomasz_weight_tracker_spark.plans import REGISTRY

        plan = _plan(REGISTRY["bucketed_join_orders"].build(spark, sf))
        assert "SortMergeJoin" in plan
        exchanges = re.findall(r"\(\d+\) Exchange", plan)
        assert len(exchanges) == 1, plan[:2500]
        # The bucketed scans feed the join without a shuffle: every
        # Exchange in the plan sits ABOVE the join (the agg), never
        # between a scan and the SortMergeJoin.
        join_pos = plan.index("SortMergeJoin")
        tree = plan[: plan.index("(1) Scan")]
        assert "Exchange" not in tree[tree.index("SortMergeJoin") :], tree


class TestPartitionPrunedScan:
    def test_scan_prunes_to_one_partition(self, spark, sf):
        from tomasz_weight_tracker_spark.plans import REGISTRY

        plan = _plan(REGISTRY["partition_pruned_scan"].build(spark, sf))
        # Directory partitioning turned the predicate into a partition
        # filter at the scan — the other event_type dirs are never read.
        assert re.search(r"PartitionFilters: \[.*event_type.*purchase", plan), (
            plan[:2500]
        )
    def test_salt_is_in_the_join_keys_and_shape_is_shuffled_hash(self, spark, sf):
        """The mitigation must actually be IN the plan: a shuffled hash
        join whose keys carry the salt (so the hot key's rows hash to
        salt_buckets different reducers), with the dim exploded across
        salts (a Generate under the build side)."""
        from tomasz_weight_tracker_spark.plans import REGISTRY

        plan = _plan(REGISTRY["skew_join_events"].build(spark, sf))
        assert "ShuffledHashJoin" in plan, plan[:1500]
        # The join's equi-keys include the salt column on both sides.
        assert re.search(r"Left keys \[2\].*__salt", plan), plan[:2500]
        assert re.search(r"Right keys \[2\].*__salt", plan), plan[:2500]
        # Build side replicates via explode, not broadcast.
        assert re.search(r"\(\d+\) Generate", plan)
        assert "BroadcastHashJoin" not in plan

    def test_hot_key_dominates_and_weights_flow_through(self, spark, sf):
        """~75% of probe rows collapse onto skew_key 0, and the weighted
        sum proves build-side attributes crossed the salted join."""
        from tomasz_weight_tracker_spark.plans import REGISTRY

        rows = REGISTRY["skew_join_events"].build(spark, sf).collect()
        by_key = {r.skew_key: r for r in rows}
        total = sum(r.n for r in rows)
        assert 0 in by_key and by_key[0].n > 0.5 * total
        # Key 0 has weight (0 % 7 + 1) = 1; a non-hot key k has weight
        # k % 7 + 1 — check one against a direct recompute.
        from tomasz_weight_tracker_spark.plans.catalog import load

        some = next(r for r in rows if r.skew_key != 0)
        ev = load(spark, sf, "events").filter(
            F.col("value").isNotNull() & (F.col("user_id") == some.skew_key)
        )
        qv_sum = ev.agg(
            F.sum(F.floor(F.col("value") * F.lit(1e4)).cast("long")).alias("s")
        ).collect()[0]["s"]
        assert some.wsum == qv_sum * (some.skew_key % 7 + 1)

    def test_salted_join_result_is_salt_invariant(self, spark):
        """Same pairs with 1 salt bucket, 8 buckets, or the default
        rand() salt — the salt must never change the join result."""
        from tomasz_weight_tracker_spark.operators.layout import salted_join

        probe = spark.createDataFrame(
            [(0, i) for i in range(40)] + [(5, 100), (9, 200)], "k long, v long"
        )
        dim = spark.createDataFrame([(0, 10), (5, 50), (9, 90)], "k long, w long")
        expected = sorted(
            (r.k, r.v, r.w)
            for r in probe.join(dim, "k").collect()
        )
        for kwargs in (
            {"salt_buckets": 1},
            {"salt_buckets": 8},
            {"salt_buckets": 8, "salt_expr": F.pmod(F.col("v"), F.lit(8)).cast("int")},
        ):
            got = sorted(
                (r.k, r.v, r.w)
                for r in salted_join(probe, dim, "k", **kwargs).collect()
            )
            assert got == expected, kwargs
