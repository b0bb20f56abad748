"""Physical-plan assertions: the optimizations the engine is designed
around must actually appear in the executed plans (SURVEY §4.2/§4.4).
Catches regressions like a lost filter pushdown or a broadcast that
fell back to sort-merge."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tomasz_weight_tracker_spark.plans import REGISTRY


@pytest.fixture
def sf(sf_path):
    return sf_path("sf0.001")


def plan_of(spark, sf, name: str) -> str:
    return REGISTRY[name].build(spark, sf)._sc._jvm.PythonSQLUtils.explainString(
        REGISTRY[name].build(spark, sf)._jdf.queryExecution(), "formatted"
    )


def formatted(spark, sf, name: str) -> str:
    df = REGISTRY[name].build(spark, sf)
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


class TestPlanShape:
    def test_filter_pushdown_reaches_scan(self, spark, sf):
        plan = formatted(spark, sf, "pricing_summary")
        assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan

    def test_column_pruning(self, spark, sf):
        plan = formatted(spark, sf, "distinct_order_months")
        # Only the single needed column is read from the 4-column table.
        assert "ReadSchema: struct<o_orderdate" in plan
        assert "o_totalprice" not in plan.split("ReadSchema")[1].split("\n")[0]

    def test_star_join_broadcasts_dims(self, spark, sf):
        plan = formatted(spark, sf, "revenue_by_nation")
        assert plan.count("BroadcastHashJoin") >= 3
        assert "SortMergeJoin" not in plan

    def test_partial_aggregation_before_exchange(self, spark, sf):
        plan = formatted(spark, sf, "pricing_summary")
        # partial_sum below the exchange = map-side combine.
        assert "partial_sum" in plan

    def test_electricity_single_shuffle_total(self, spark, sf):
        """The flagship chain has exactly ONE exchange: the per-series
        window shuffle.  The cumulative-sum and lead windows share it,
        the per-interval category counts fold over pre-explode arrays
        (no shuffle), and the final (user, bucket) aggregation reuses
        the user partitioning (no exchange)."""
        import re

        plan = formatted(spark, sf, "electricity_15min")
        exchanges = re.findall(r"\(\d+\) Exchange", plan)
        assert len(exchanges) == 1, f"expected 1 shuffle, got {len(exchanges)}:\n{plan}"
        assert "Generate" in plan  # bucket-level explode present

    def test_topk_plans_take_ordered(self, spark, sf):
        plan = formatted(spark, sf, "top_orders")
        assert "TakeOrderedAndProject" in plan

    def test_semi_join_for_exists(self, spark, sf):
        plan = formatted(spark, sf, "customers_with_orders")
        assert "LeftSemi" in plan

    def test_whole_stage_codegen_covers_hot_path(self, spark, sf):
        df = REGISTRY["bucket_15min"].build(spark, sf)
        plan = df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
        )
        # The scan->bucket->partial-agg pipeline compiles to one or more
        # fused codegen stages (no interpreted operators on the hot path).
        assert "WholeStageCodegen" in plan


class TestRound2PlanShape:
    def test_large_order_details_broadcasts_build(self, spark, sf):
        # The HAVING-filtered aggregate is the broadcast build side of
        # BOTH probe joins — no sort-merge, no shuffle of orders/customer.
        plan = formatted(spark, sf, "large_order_details")
        assert plan.count("BroadcastHashJoin") >= 2
        assert "SortMergeJoin" not in plan

    def test_exists_orders_plans_semi_join(self, spark, sf):
        plan = formatted(spark, sf, "exists_orders")
        assert "LeftSemi" in plan
        # The date-range filter reaches the orders parquet scan.
        assert "PushedFilters" in plan and "o_orderdate" in plan

    def test_doc_shingle_fp_is_shuffle_free(self, spark, sf):
        import re

        plan = formatted(spark, sf, "doc_shingle_fp")
        assert not re.findall(r"\(\d+\) Exchange", plan)

    def test_embed_quantize_is_shuffle_free(self, spark, sf):
        import re

        plan = formatted(spark, sf, "embed_quantize")
        assert not re.findall(r"\(\d+\) Exchange", plan)

    def test_minhash_md5_computed_once_per_token(self, spark, sf):
        # The double-hashing rewrite: the (h1,h2) transform appears in
        # its own projection and each mh_i references the materialized
        # array — the plan must contain exactly ONE md5 call per
        # substring position (2), not one per salt (8/16).
        plan = formatted(spark, sf, "minhash_signature")
        assert plan.count("md5(") <= 2, plan

    def test_media_decode_prunes_to_id_and_content(self, spark, sf):
        # The Arrow decode pipeline reads only what it needs from the
        # documents scan: doc_id (blob synthesis input).
        plan = formatted(spark, sf, "media_decode")
        read = plan.split("ReadSchema")[1].split("\n")[0]
        assert "doc_id" in read and "text" not in read

    def test_user_breakdown_single_exchange(self, spark, sf):
        # Partitioning by user_id alone serves both the (user, type)
        # count and the per-user array aggregation: one exchange total.
        import re

        plan = formatted(spark, sf, "user_event_breakdown")
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


class TestRound3PlanShape:
    def test_stratified_sample_is_scan_side_filter(self, spark, sf):
        # Membership is a pure predicate: no Exchange anywhere.
        import re

        plan = formatted(spark, sf, "stratified_sample_events")
        assert not re.findall(r"\(\d+\) Exchange", plan), plan

    def test_zorder_key_is_shuffle_free_codegen(self, spark, sf):
        import re

        plan = formatted(spark, sf, "zorder_events")
        assert not re.findall(r"\(\d+\) Exchange", plan), plan
        df = REGISTRY["zorder_events"].build(spark, sf)
        cg = df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
        )
        assert "WholeStageCodegen" in cg

    def test_hll_shuffles_registers_not_values(self, spark, sf):
        # Two hash aggregates ((group, bucket) then (group)), both with
        # map-side partials, and the (group, bucket) exchange moves at
        # most 256 rows per group -- never the raw value stream.
        plan = formatted(spark, sf, "hll_user_counts")
        assert "partial_max" in plan  # register max combines map-side
        assert "SortMergeJoin" not in plan  # exact-vs-sketch join broadcasts

    def test_contamination_broadcasts_benchmark_set(self, spark, sf):
        plan = formatted(spark, sf, "contamination_overlap")
        assert "BroadcastHashJoin" in plan

    def test_salient_terms_explode_shared_via_exchange_reuse(self, spark, sf):
        # tf feeds the df aggregate and the join probe: the always-true
        # tf > 0 guard keeps both branches' explode+partial-agg
        # subtrees canonically identical, so AQE collapses them into
        # ONE ReusedExchange at runtime and the corpus token explode
        # executes once (disk-backed shuffle sharing — the round-13
        # replacement for the storage cache, which was a measured wash
        # while holding a corpus-rows relation).  Reuse is an AQE
        # runtime decision, so assert on the EXECUTED plan.
        df = REGISTRY["salient_terms"].build(spark, sf)
        df.collect()
        final = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final, final[:500]
        assert "ReusedExchange" in final, final[:3000]
        assert "InMemoryTableScan" not in final, final[:3000]

    def test_corr_single_aggregation(self, spark, sf):
        # All six moment sums ride ONE hash aggregate: exactly one
        # exchange (the group-by), with map-side partial sums.
        import re

        plan = formatted(spark, sf, "corr_value_hour")
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
        assert "partial_sum" in plan

    def test_funnel_joins_stay_on_user_key(self, spark, sf):
        # Every join in the funnel is a user_id equi-join; nothing
        # falls back to nested-loop/cartesian on the event stream.
        plan = formatted(spark, sf, "conversion_funnel")
        assert "CartesianProduct" not in plan.split("n_view")[0]


class TestRound4PlanShape:
    def test_lsh_verify_is_not_a_second_join(self, spark, sf):
        """Round-3 scale defect: the verify stage joined candidate pairs
        back to the signature table with BOTH sides broadcast — a
        corpus-cardinality broadcast that OOMs at scale.  The fix
        computes sig_matches from the band-shuffled signature array
        itself, so the plan contains exactly THREE joins — the two
        expansion left-joins onto the multi-member subset and the
        within-cluster self-join (round-8 collapse-first semantics;
        the rep-level band self-join became a bucket collect_list
        aggregation in round 12) — and no broadcast HINT anywhere: a
        verify-stage join back to the full signature table would make
        a fourth."""
        import re

        df = REGISTRY["lsh_near_dup"].build(spark, sf)
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "broadcast" not in optimized.lower(), optimized
        plan = formatted(spark, sf, "lsh_near_dup")
        # Count physical nodes via their "(id) Name" detail headers so
        # the tree and detail sections don't double-count.
        joins = re.findall(
            r"\(\d+\) (BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
            r"BroadcastNestedLoopJoin|CartesianProduct)",
            plan,
        )
        assert len(joins) == 3, f"expected 2 expansion + cluster joins, got {joins}"

    def test_runtime_bloom_filter_injects_on_selective_join(self, spark, sf):
        """The 100 TB semi-join-reduction lever: with a selective filter
        on the build side of a shuffle join, Spark injects a runtime
        Bloom filter that prunes the fact side BEFORE the shuffle.
        Pinned here because it is easy to silently lose: the local-mode
        widen repartition (plans.catalog.load) suppresses the injection
        — harmless locally where the rule's scan-size gates wouldn't
        pass anyway, but this test documents that raw scans (the real
        cluster layout, where widen is a no-op) do get the filter."""
        confs = {
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        saved = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            li = spark.read.parquet(f"{sf}/lineitem.parquet")
            o = spark.read.parquet(f"{sf}/orders.parquet").filter(
                F.col("o_totalprice") > 300000
            )
            j = (
                li.join(o, li.l_orderkey == o.o_orderkey)
                .groupBy("o_orderpriority")
                .count()
            )
            optimized = j._jdf.queryExecution().optimizedPlan().toString()
            assert "bloom_filter_agg" in optimized, optimized[:2000]
            assert "might_contain" in optimized
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestJoinStrategyHints:
    """The engine exposes all three equi-join physical strategies via
    hints — the lever for overriding Catalyst when table stats mislead
    it (tiny-but-unknown dims, known-huge builds)."""

    def _plan(self, spark, sf_path, hint):
        from tomasz_weight_tracker_spark.plans.catalog import load

        o = load(spark, sf_path("sf0.001"), "orders")
        c = load(spark, sf_path("sf0.001"), "customer").hint(hint)
        df = o.join(c, o.o_custkey == c.c_custkey)
        return df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    def test_broadcast_hint(self, spark, sf_path):
        assert "BroadcastHashJoin" in self._plan(spark, sf_path, "broadcast")

    def test_merge_hint(self, spark, sf_path):
        assert "SortMergeJoin" in self._plan(spark, sf_path, "merge")

    def test_shuffle_hash_hint(self, spark, sf_path):
        assert "ShuffledHashJoin" in self._plan(spark, sf_path, "shuffle_hash")


class TestRound4PlanShapes:
    """Physical-plan regressions for the round-4 additions: the scale
    claims in their docstrings, pinned."""

    def test_scd2_single_shuffle(self, spark, sf):
        # Both windows (change-detect lag, interval-close lead) share
        # the user_id partitioning -> exactly ONE exchange.
        plan = formatted(spark, sf, "scd2_user_state")
        import re

        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:1500]

    def test_sequence_packing_no_global_corpus_window(self, spark, sf):
        # The per-document window must be shard-partitioned; the only
        # single-partition window runs over shard SUBTOTALS.  The shard
        # offsets join must broadcast (|shards| rows).
        plan = formatted(spark, sf, "sequence_packing")
        import re

        assert re.search(r"windowspecdefinition\(shard#\d+L, doc_id", plan)
        assert "BroadcastHashJoin" in plan

    def test_snapshot_diff_single_aggregate_alignment(self, spark, sf):
        # Both sides are table-sized snapshots aligned by a side-tagged
        # union + keyed aggregate: ONE keyed exchange (shared by both
        # sides), no join operator at all — and never a broadcast of a
        # table-sized side.  (The previous shape was a full-outer SMJ:
        # two keyed exchanges plus two full sorts for the same bytes.
        # max-over-struct buffers aren't hash-aggregable, so the
        # aggregate plans as SortAggregate: one sort, not the join's
        # two.)
        import re

        plan = formatted(spark, sf, "snapshot_diff")
        assert "Union" in plan and "SortAggregate" in plan
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" not in plan
        assert "CartesianProduct" not in plan
        # one exchange for the alignment aggregate, none besides
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1

    def test_bitmap_distinct_partial_aggregates(self, spark, sf):
        # Map-side combine on (event_type, word) is the point: raw ids
        # must not cross the wire.  Partial HashAggregates precede both
        # exchanges.
        plan = formatted(spark, sf, "bitmap_distinct_users")
        import re

        assert len(re.findall(r"\(\d+\) HashAggregate", plan)) == 4
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2

    def test_snm_single_scan_single_shuffle(self, spark, sf):
        # Neighbors gathered in one window pass and exploded — a
        # per-offset UNION would re-scan and re-sort per arm.
        plan = formatted(spark, sf, "snm_near_dup")
        import re

        assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1

    def test_inverted_index_dedups_before_explode(self, spark, sf):
        # array_distinct must sit under the Generate node so only
        # distinct (doc, token) pairs are emitted into the shuffle.
        plan = formatted(spark, sf, "inverted_index")
        gen = plan.index("Generate")
        assert "array_distinct" in plan[gen : gen + 2000]


class TestTrianglePlanShape:
    def test_triangle_intersection_is_degree_oriented_bitmap(self, spark, sf):
        """Round-4 scale defect: the wedge join was id-oriented, putting
        sum d(v)^2 work on hub vertices (AQE splits partition rows, not
        pair emission).  The fix is degree-ordered compact-forward over
        bitmap adjacency: the plan must contain (a) the degree-rank
        orientation CASE (du < dv with id tie-break) and (b) the
        bit_count(word AND word) intersection — and NO wedge-row
        three-way edge join (at most the two adjacency equi-joins plus
        the two orientation degree joins touch edge data)."""
        plan = formatted(spark, sf, "graph_triangle_stats")
        assert "du" in plan and "dv" in plan and "CASE WHEN" in plan
        assert "bit_count" in plan and "shiftright" in plan
        # The old shape had an e1-e2-e3 wedge chain joining edges to
        # edges on dst=src THEN closing on two keys; the bitmap shape
        # closes via (dst, w) — assert the popcount feeds the final sum.
        assert "partial_sum(c" in plan or "sum(c" in plan


class TestEmbedLshPlanShape:
    def test_embed_lsh_single_join_no_broadcast(self, spark, sf):
        """Same invariant as the text LSH (whose verify stage once
        regressed into a corpus-cardinality broadcast): the embedding
        rides THROUGH the band self-join, so the whole plan is exactly
        one join with no broadcast anywhere."""
        import re

        df = REGISTRY["embed_lsh_near_dup"].build(spark, sf)
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "broadcast" not in optimized.lower(), optimized
        plan = formatted(spark, sf, "embed_lsh_near_dup")
        joins = re.findall(
            r"\(\d+\) (BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
            r"BroadcastNestedLoopJoin|CartesianProduct)",
            plan,
        )
        assert len(joins) == 1, f"expected exactly the band self-join, got {joins}"


class TestRound7PlanShapes:
    def test_ngram_lm_unigram_lookup_is_broadcast(self, spark, sf):
        """The unigram lookup must be a broadcast hash join (the Zipf
        head of first-tokens would skew a shuffle join); scans must
        prune to (doc_id, text)."""
        plan = formatted(spark, sf, "ngram_lm_score")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        assert "struct<doc_id:bigint,text:string>" in plan

    def test_perceptron_features_zero_shuffle(self, spark, sf):
        """Feature building is one corpus scan with NO exchange — the
        md5 bucketing and label are per-row expressions."""
        from tomasz_weight_tracker_spark.operators.lm import perceptron_features
        from tomasz_weight_tracker_spark.plans.catalog import load

        df = perceptron_features(load(spark, sf, "documents"))
        plan = df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "Exchange" not in plan

    def test_bloom_probe_has_no_fact_side_shuffle(self, spark, sf):
        """The fact side is pruned via broadcast word lookups; the only
        exchanges allowed are the tiny key/bloom-build aggregations and
        the single-row final aggregate — lineitem itself must never be
        exchange-partitioned on a join key (no SortMergeJoin, no
        ShuffledHashJoin)."""
        plan = formatted(spark, sf, "bloom_semijoin_prune")
        assert "SortMergeJoin" not in plan
        assert "ShuffledHashJoin" not in plan
        assert plan.count("BroadcastHashJoin") >= 5  # 4 word probes + key join

    def test_token_mix_single_corpus_aggregation(self, spark, sf):
        """One source-keyed aggregation touches the corpus; all window
        work runs on the S-row source relation."""
        plan = formatted(spark, sf, "token_budget_mix")
        # corpus-side: scan -> partial agg -> exchange on source -> agg;
        # every other exchange is the S-row single-partition window feed
        assert "hashpartitioning(source" in plan
        assert "SortMergeJoin" not in plan


class TestCorpusShuffleShards:
    def test_manifest_conserves_corpus_and_fills_shards(self, spark, sf):
        from tomasz_weight_tracker_spark.plans.file_pipelines import SHARD_TOKENS

        rows = REGISTRY["corpus_shuffle_shards"].build(spark, sf).collect()
        import duckdb

        n_docs, n_tokens = duckdb.sql(
            f"SELECT count(*), sum(length(text)-length(replace(text,' ',''))+1) "
            f"FROM read_parquet('{sf}/documents.parquet')"
        ).fetchone()
        assert sum(r.n_docs for r in rows) == n_docs
        assert sum(r.shard_tokens for r in rows) == n_tokens
        # Contiguous shard ids 0..max (the layout is end-to-end).
        ids = sorted(r.shard_id for r in rows)
        assert ids == list(range(len(rows)))
        # Every shard except the last is filled to within one document
        # of the budget: a shard closes only when the next doc STARTS
        # past its boundary, so underfill < that doc's length, and
        # overflow is carried — shard_tokens >= the tokens whose start
        # offset lands inside it.  Cheap sanity: mean fill near budget.
        if len(rows) > 2:
            body = [r.shard_tokens for r in rows if r.shard_id < len(rows) - 1]
            assert abs(sum(body) / len(body) - SHARD_TOKENS) < SHARD_TOKENS * 0.5

    def test_no_corpus_wide_single_partition_window(self, spark, sf):
        # The only unpartitioned window may be the 128-row h-bucket
        # offsets frame: check the full-table window is hshard-keyed.
        txt = formatted(spark, sf, "corpus_shuffle_shards")
        assert "hshard" in txt


class TestOrderQuartiles:
    def test_ntile_semantics_without_global_sort(self, spark, sf):
        # Exact ntile(4) bucket sizes and non-overlapping value
        # ranges, recomputed from the raw table — the distributed
        # prefix-count must reproduce the single-window semantics.
        rows = sorted(
            REGISTRY["order_quartiles"].build(spark, sf).collect(),
            key=lambda r: r.quartile,
        )
        n = sum(r.n for r in rows)
        base, rem = divmod(n, 4)
        assert [r.quartile for r in rows] == [1, 2, 3, 4]
        assert [r.n for r in rows] == [
            base + 1 if q <= rem else base for q in (1, 2, 3, 4)
        ]
        for lo_r, hi_r in zip(rows, rows[1:]):
            assert lo_r.hi <= hi_r.lo  # ranges ordered (ties may touch)

    def test_rank_window_is_shard_partitioned(self, spark, sf):
        # The row_number over the orders-sized frame must carry the
        # __shard partition key; the only unpartitioned window is the
        # per-shard counts frame (one row per price bucket).
        txt = formatted(spark, sf, "order_quartiles")
        import re

        rn_specs = re.findall(r"row_number\(\) windowspecdefinition\(([^)]*)\)", txt)
        assert rn_specs and all("__shard" in s for s in rn_specs)


class TestStarPreaggAdaptive:
    """The star queries pre-aggregate lineitem per l_orderkey only when
    orders is too big to broadcast (catalog.star_preagg); both branches
    must stay value-identical."""

    def test_small_scale_skips_preagg(self, spark, sf):
        from tomasz_weight_tracker_spark.plans import catalog as C

        assert not C.star_preagg(spark, sf)
        plan = formatted(spark, sf, "revenue_by_nation")
        # No per-orderkey aggregate below the join at broadcast scale.
        assert "Keys [1]: [l_orderkey" not in plan

    def test_large_scale_enables_preagg_and_matches(self, spark, sf):
        from tomasz_weight_tracker_spark.plans import catalog as C

        old = C._STAR_PREAGG_MIN_ORDERS_BYTES
        try:
            C._STAR_PREAGG_MIN_ORDERS_BYTES = 0
            assert C.star_preagg(spark, sf)
            plan = formatted(spark, sf, "revenue_by_nation")
            assert "Keys [1]: [l_orderkey" in plan  # pre-agg below the join
            pre = {
                tuple(r)
                for r in REGISTRY["revenue_by_nation"].build(spark, sf).collect()
            }
            pre_roll = {
                tuple(r)
                for r in REGISTRY["rollup_revenue"].build(spark, sf).collect()
            }
        finally:
            C._STAR_PREAGG_MIN_ORDERS_BYTES = old
        direct = {
            tuple(r) for r in REGISTRY["revenue_by_nation"].build(spark, sf).collect()
        }
        direct_roll = {
            tuple(r) for r in REGISTRY["rollup_revenue"].build(spark, sf).collect()
        }
        assert pre == direct
        assert pre_roll == direct_roll


class TestLshBucketAggregation:
    """Round-12 restructure of the split-level cascade: one explicit
    exchange + one within-partition sort serve all split windows, and
    rep pairs come from a bucket collect_list aggregation (buckets are
    <= max_bucket by construction) instead of a band self-join."""

    def test_cascade_single_sort_no_join(self, spark, sf):
        import re

        df = REGISTRY["lsh_dup_star_edges"].build(spark, sf)
        plan = formatted(spark, sf, "lsh_dup_star_edges")
        # Whole plan: collapse-window sort + cascade sort (+1 distinct
        # internal) — the 12 per-level sorts of the slice-chain design
        # are gone.
        sorts = re.findall(r"\(\d+\) Sort", plan)
        assert len(sorts) <= 3, f"cascade re-grew sorts: {len(sorts)}"
        assert "SortMergeJoin" not in plan
        # The pair stage is an object-hash collect_list aggregation.
        assert "ObjectHashAggregate" in plan
        assert "collect_list" in plan
