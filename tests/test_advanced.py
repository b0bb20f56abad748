"""plans/advanced.py: SCD2 history, fixed-iteration PageRank,
sorted-neighborhood near-dup, bitmap exact-distinct — semantic
invariants beyond the parity gate's hash equality.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from tomasz_weight_tracker_spark.plans.advanced import (
    _SNM_WINDOW,
    q_bitmap_distinct_users,
    q_pagerank_part_supplier,
    q_scd2_user_state,
    q_snm_near_dup,
)
from tomasz_weight_tracker_spark.streaming.tuning import state_partitions


@pytest.fixture
def sf(sf_path):
    return sf_path("sf0.001")


def _ts(h, m=0):
    return datetime.datetime(2024, 1, 1, h, m)


class TestScd2:
    def test_history_semantics_on_crafted_stream(self, spark, tmp_path):
        # user 1: a a b a  -> 3 versions; user 2: c -> 1 version.
        rows = [
            (1, 1, _ts(9), "a", 0.0, ""),
            (2, 1, _ts(10), "a", 0.0, ""),
            (3, 1, _ts(11), "b", 0.0, ""),
            (4, 1, _ts(12), "a", 0.0, ""),
            (5, 2, _ts(9), "c", 0.0, ""),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, event_type string, value double, props string"
        )
        path = str(tmp_path / "ev")
        df.write.parquet(path + "/events.parquet")
        out = q_scd2_user_state(spark, path).collect()
        u1 = sorted((r for r in out if r.user_id == 1), key=lambda r: r.version)
        assert [r.state for r in u1] == ["a", "b", "a"]
        # Intervals tile: each valid_to equals the next valid_from.
        assert u1[0].valid_to == u1[1].valid_from
        assert u1[1].valid_to == u1[2].valid_from
        assert u1[2].valid_to is None and u1[2].is_current
        assert sum(r.is_current for r in out) == 2  # exactly one per user

    def test_current_rows_match_latest_event(self, spark, sf):
        out = q_scd2_user_state(spark, sf)
        cur = out.filter("is_current").groupBy("user_id").count()
        assert cur.filter("count != 1").count() == 0


class TestPageRank:
    def test_mass_and_node_domain(self, spark, sf):
        out = q_pagerank_part_supplier(spark, sf).collect()
        # Every node gets the damping floor; symmetric edges leak no mass,
        # so total rank stays within damping bounds of node count.
        assert all(r.rank >= 0.15 for r in out)
        n = len(out)
        total = sum(r.rank for r in out)
        assert abs(total - n) / n < 0.02  # conservation up to quantization
        kinds = {r.kind for r in out}
        assert kinds == {"part", "supplier"}

    def test_deterministic_across_runs(self, spark, sf):
        a = {r.id: r.rank for r in q_pagerank_part_supplier(spark, sf).collect()}
        b = {r.id: r.rank for r in q_pagerank_part_supplier(spark, sf).collect()}
        assert a == b


class TestSortedNeighborhood:
    def test_pair_budget_and_orientation(self, spark, sf):
        out = q_snm_near_dup(spark, sf).collect()
        assert all(r.doc_a != r.doc_b for r in out)
        # Each doc opens at most w comparisons -> no quadratic blowup.
        from collections import Counter

        per_doc = Counter(r.doc_a for r in out)
        assert all(v <= _SNM_WINDOW for v in per_doc.values())

    def test_finds_injected_near_duplicate(self, spark, tmp_path):
        base = "the quick brown fox jumps over the lazy dog " * 3
        rows = [
            (1, base, "en", "s", len(base)),
            (2, base[:-1] + "!", "en", "s", len(base)),  # 1 edit away
            (3, "zzz completely unrelated text qqq", "en", "s", 33),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        path = str(tmp_path / "docs")
        df.write.parquet(path + "/documents.parquet")
        pairs = {(r.doc_a, r.doc_b) for r in q_snm_near_dup(spark, path).collect()}
        assert (1, 2) in pairs

    def test_degenerate_run_capped(self, spark, tmp_path):
        # 500 byte-identical docs = one exact-skey run.  Uncapped, the
        # pass emits ~500*w sub-threshold pairs (the 10x-soak 321x
        # output blowup); capped, only the first _SNM_MAX_RUN docs
        # take part.  A distinct doc beyond the run must still pair
        # with nothing (it differs by more than the threshold).
        from tomasz_weight_tracker_spark.plans.advanced import _SNM_MAX_RUN

        base = "identical boilerplate text repeated verbatim everywhere"
        rows = [(i, base, "en", "s", len(base)) for i in range(500)]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        path = str(tmp_path / "docs_dup")
        df.write.parquet(path + "/documents.parquet")
        out = q_snm_near_dup(spark, path).collect()
        docs_in_pairs = {r.doc_a for r in out} | {r.doc_b for r in out}
        assert docs_in_pairs <= set(range(_SNM_MAX_RUN))
        # Pair emission bounded by the cap, not the run length.
        assert len(out) <= _SNM_MAX_RUN * _SNM_WINDOW


class TestBitmapDistinct:
    def test_equals_exact_count_distinct(self, spark, sf):
        got = {
            r.event_type: r.n_users
            for r in q_bitmap_distinct_users(spark, sf).collect()
        }
        from tomasz_weight_tracker_spark.plans.catalog import load

        want = {
            r.event_type: r.n
            for r in load(spark, sf, "events")
            .groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        assert got == want

    def test_partitioning_invariant(self, spark):
        # bit_or commutes; the count cannot depend on row sharding.
        df = spark.range(5000).select(
            F.lit("t").alias("event_type"), (F.col("id") % 321).alias("user_id")
        )
        import tomasz_weight_tracker_spark.plans.advanced as A

        def count(frame):
            words = frame.groupBy(
                "event_type", F.expr("user_id div 64").alias("word")
            ).agg(
                F.expr(
                    "bit_or(shiftleft(1L, cast(pmod(user_id, 64) as int)))"
                ).alias("bits")
            )
            return (
                words.groupBy("event_type")
                .agg(F.sum(F.bit_count("bits")).alias("n"))
                .first()
                .n
            )

        assert count(df.repartition(1)) == count(df.repartition(7, "user_id")) == 321
        assert A is not None


class TestStatePartitions:
    def test_restores_session_conf(self, spark):
        key = "spark.sql.shuffle.partitions"
        before = spark.conf.get(key)
        with state_partitions(spark, 3):
            assert spark.conf.get(key) == "3"
        assert spark.conf.get(key) == before

    def test_restores_on_error(self, spark):
        key = "spark.sql.shuffle.partitions"
        before = spark.conf.get(key)
        try:
            with state_partitions(spark, 2):
                raise RuntimeError("boom")
        except RuntimeError:
            pass
        assert spark.conf.get(key) == before


class TestSnapshotDiff:
    def test_statuses_match_residue_construction(self, spark, sf):
        from tomasz_weight_tracker_spark.plans.advanced import (
            _DIFF_CHANGE,
            _DIFF_DELETE,
            _DIFF_INSERT,
            q_snapshot_diff,
        )
        from tomasz_weight_tracker_spark.plans.catalog import load

        out = q_snapshot_diff(spark, sf).collect()
        by_status = {}
        for r in out:
            by_status.setdefault(r.status, []).append(r)
        keys = [r.o_orderkey for r in load(spark, sf, "orders").select("o_orderkey").collect()]
        assert len(by_status.get("removed", [])) == sum(1 for k in keys if k % _DIFF_DELETE == 0)
        assert len(by_status.get("added", [])) == sum(1 for k in keys if k % _DIFF_INSERT == 0)
        # changed = price-bumped keys that were not deleted
        assert len(by_status.get("changed", [])) == sum(
            1 for k in keys if k % _DIFF_CHANGE == 0 and k % _DIFF_DELETE != 0
        )
        assert all(r.changed_cols == "o_totalprice" for r in by_status.get("changed", []))


class TestSequencePacking:
    def test_offsets_tile_the_token_stream(self, spark, sf):
        from tomasz_weight_tracker_spark.plans.advanced import (
            _PACK_BUDGET,
            q_sequence_packing,
        )

        rows = sorted(q_sequence_packing(spark, sf).collect(), key=lambda r: r.doc_id)
        # Prefix-sum property: each doc starts where the previous ended.
        run = 0
        for r in rows:
            assert r.global_start == run
            assert r.pack_id == run // _PACK_BUDGET
            run += r.n_tokens

    def test_no_full_corpus_global_window(self, spark, sf):
        # The only unpartitioned window runs over shard SUBTOTALS; the
        # per-document window must be shard-partitioned.
        import io, contextlib

        from tomasz_weight_tracker_spark.plans.advanced import q_sequence_packing

        df = q_sequence_packing(spark, sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        import re

        # Window over doc tokens is partitioned by shard (partial-window
        # spec renders as "windowspecdefinition(shard#..., doc_id#...").
        assert re.search(r"windowspecdefinition\(shard#\d+L, doc_id", plan), plan


class TestValueDeciles:
    def test_bins_are_ordered_and_balanced(self, spark, sf):
        from tomasz_weight_tracker_spark.plans.advanced import q_value_deciles

        rows = q_value_deciles(spark, sf).collect()
        by_type = {}
        for r in rows:
            by_type.setdefault(r.event_type, []).append(r)
        for t, bins in by_type.items():
            bins.sort(key=lambda r: r.decile)
            assert [b.decile for b in bins] == list(range(1, 11))
            # Equal-frequency: ntile sizes differ by at most 1.
            sizes = [b.n for b in bins]
            assert max(sizes) - min(sizes) <= 1
            for lo, hi in zip(bins, bins[1:]):
                assert hi.min_v >= lo.max_v or abs(hi.min_v - lo.max_v) < 1e-12


class TestDatasetSplit:
    def test_user_disjoint_and_total(self, spark, sf):
        from tomasz_weight_tracker_spark.functions import md5_long
        from tomasz_weight_tracker_spark.plans.advanced import q_dataset_split
        from tomasz_weight_tracker_spark.plans.catalog import load

        out = {r.split: r for r in q_dataset_split(spark, sf).collect()}
        ev = load(spark, sf, "events")
        assert sum(r.n_events for r in out.values()) == ev.count()
        # Group-aware: per-user split assignment is a function of user_id,
        # so split user counts partition the distinct-user set.
        n_users = ev.select("user_id").distinct().count()
        assert sum(r.n_users for r in out.values()) == n_users
        assert set(out) <= {"train", "val", "test"}


class TestTriangleStats:
    def test_known_graph_k4(self, spark, tmp_path):
        # One part supplied by 4 suppliers -> co-supply graph K4:
        # 6 edges, 12 wedges, 4 triangles, clustering 1.0.
        from tomasz_weight_tracker_spark.plans.advanced import q_graph_triangle_stats

        rows = [(1, s, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts(9)) for s in (1, 2, 3, 4)]
        df = spark.createDataFrame(
            rows,
            "l_orderkey long, l_suppkey long, l_partkey long, l_linenumber int, "
            "l_quantity double, l_extendedprice double, l_discount double, "
            "l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp",
        )
        path = str(tmp_path / "li")
        df.write.parquet(path + "/lineitem.parquet")
        r = q_graph_triangle_stats(spark, path).first()
        assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (4, 6, 12, 4)
        assert r.clustering == 1.0

    def test_triangle_free_bipartite(self, spark, tmp_path):
        # Two parts with disjoint supplier pairs -> 2 disjoint edges, no
        # wedges/triangles.
        from tomasz_weight_tracker_spark.plans.advanced import q_graph_triangle_stats

        rows = [(1, 1, 1), (1, 2, 1), (2, 3, 2), (2, 4, 2)]
        df = spark.createDataFrame(
            [(o, s, p, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts(9)) for o, s, p in rows],
            "l_orderkey long, l_suppkey long, l_partkey long, l_linenumber int, "
            "l_quantity double, l_extendedprice double, l_discount double, "
            "l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp",
        )
        path = str(tmp_path / "li2")
        df.write.parquet(path + "/lineitem.parquet")
        r = q_graph_triangle_stats(spark, path).first()
        assert (r.n_edges, r.n_wedges, r.n_triangles) == (2, 0, 0)

    def test_degree_orientation_defuses_hub(self, spark):
        # Star graph: hub 0 adjacent to leaves 1..200.  Under id
        # orientation the hub keeps out-degree 200 (40k wedge probes);
        # under DEGREE orientation every edge points INTO the hub
        # (leaf degree 1 < hub degree 200), so hub out-degree is 0 and
        # total intersection work is 0 — the curse-of-the-last-reducer
        # fix, asserted structurally.
        from pyspark.sql import functions as F

        from tomasz_weight_tracker_spark.plans.advanced import degree_oriented_edges

        edges = spark.createDataFrame(
            [(0, v) for v in range(1, 201)], "u long, v long"
        )
        deg = (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        oriented = degree_oriented_edges(edges, deg)
        out = (
            oriented.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).collect()
        )
        outdeg = {r.src: r.outdeg for r in out}
        assert 0 not in outdeg  # hub emits NO out-edges
        assert max(outdeg.values()) == 1  # each leaf points at the hub
        # d_dst carries the destination's (hub's) undirected degree.
        assert oriented.select(F.max("d_dst")).first()[0] == 200

    def test_degree_orientation_count_invariant(self, spark, tmp_path):
        # Lollipop: K4 clique {1,2,3,4} via part 1 plus a hub 1
        # co-supplying parts 2..30 with singleton partners — skewed
        # degrees, known count: 4 triangles from the clique only.
        from tomasz_weight_tracker_spark.plans.advanced import q_graph_triangle_stats

        rows = [(1, s, 1) for s in (1, 2, 3, 4)]
        rows += [(p, 1, p) for p in range(2, 31)]
        rows += [(p, 100 + p, p) for p in range(2, 31)]
        df = spark.createDataFrame(
            [(o, s, p, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts(9)) for o, s, p in rows],
            "l_orderkey long, l_suppkey long, l_partkey long, l_linenumber int, "
            "l_quantity double, l_extendedprice double, l_discount double, "
            "l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp",
        )
        path = str(tmp_path / "li3")
        df.write.parquet(path + "/lineitem.parquet")
        r = q_graph_triangle_stats(spark, path).first()
        # 6 clique edges + 29 hub spokes (hub=1 is in the clique; the
        # spoke partners are fresh), all simple-graph distinct.
        assert r.n_triangles == 4
        assert r.n_edges == 6 + 29 * 1


class TestInvertedIndex:
    def test_df_and_posting_cap(self, spark, tmp_path):
        from tomasz_weight_tracker_spark.plans.advanced import (
            _IDX_MIN_DF,
            _IDX_POSTINGS,
            q_inverted_index,
        )

        # "common" in 12 docs (cap postings at 8); "rare" in 2 (pruned);
        # repeated occurrences inside one doc count once.
        rows = [(i, "common common filler%d" % i, "en", "s", 10) for i in range(12)]
        rows += [(100, "rare", "en", "s", 4), (101, "rare", "en", "s", 4)]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        path = str(tmp_path / "docs")
        df.write.parquet(path + "/documents.parquet")
        out = {r.token: r for r in q_inverted_index(spark, path).collect()}
        assert "rare" not in out  # below min-df
        assert out["common"].df == 12
        postings = out["common"].postings.split(",")
        assert len(postings) == _IDX_POSTINGS
        assert postings == [str(i) for i in range(_IDX_POSTINGS)]
        assert _IDX_MIN_DF <= 12


class TestDedupThrottle:
    def test_suppresses_within_horizon(self, spark, tmp_path):
        from tomasz_weight_tracker_spark.plans.advanced import q_dedup_throttle

        base = datetime.datetime(2024, 1, 1, 9, 0, 0)
        rows = [
            (1, 1, base, "click", 0.0, ""),
            (2, 1, base + datetime.timedelta(seconds=30), "click", 0.0, ""),  # dropped
            (3, 1, base + datetime.timedelta(seconds=90), "click", 0.0, ""),  # kept (60s from #2)
            (4, 1, base + datetime.timedelta(seconds=30), "view", 0.0, ""),  # other type: kept
        ]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, event_type string, value double, props string"
        )
        path = str(tmp_path / "ev")
        df.write.parquet(path + "/events.parquet")
        kept = sorted(r.event_id for r in q_dedup_throttle(spark, path).collect())
        assert kept == [1, 3, 4]


class TestStreamingJoinClicks:
    def test_matches_batch_interval_join(self, spark, sf):
        from tomasz_weight_tracker_spark.plans.advanced import q_streaming_join_clicks
        from tomasz_weight_tracker_spark.plans.catalog import load

        got = {
            (r.purchase_id, r.click_id)
            for r in q_streaming_join_clicks(spark, sf).collect()
        }
        ev = load(spark, sf, "events")
        p = ev.filter("event_type = 'purchase'").select(
            F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
        )
        c = ev.filter("event_type = 'click'").select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        want = {
            (r.purchase_id, r.click_id)
            for r in p.join(
                c,
                (F.col("user_id") == F.col("c_user"))
                & (F.col("c_ts") >= F.col("p_ts"))
                & (F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 15 MINUTES")),
            ).collect()
        }
        assert got == want


class TestIntervalUnion:
    def test_islands_merge_overlaps(self, spark, tmp_path):
        from tomasz_weight_tracker_spark.plans.advanced import q_interval_union_time

        base = datetime.datetime(2024, 1, 1, 9, 0, 0)
        mins = datetime.timedelta(minutes=1)
        # user 1: events at 9:00 and 9:10 overlap (30-min cover) -> one
        # island 9:00-9:40 = 40 min; a third at 11:00 is its own island.
        rows = [
            (1, 1, base, "click", 0.0, ""),
            (2, 1, base + 10 * mins, "click", 0.0, ""),
            (3, 1, base + 120 * mins, "click", 0.0, ""),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, event_type string, value double, props string"
        )
        path = str(tmp_path / "ev")
        df.write.parquet(path + "/events.parquet")
        r = q_interval_union_time(spark, path).first()
        assert r.n_islands == 2
        assert r.covered_minutes == 40 + 30


class TestReviewRegressions:
    """Fixes from the round-4 review, pinned."""

    def test_bitmap_handles_negative_ids(self, spark):
        # Truncating div would collide id -1 with id 63 in word 0;
        # shiftright (floor div) keeps them in separate words.
        df = spark.createDataFrame(
            [("t", -1), ("t", 63)], "event_type string, user_id long"
        )
        words = df.groupBy(
            "event_type", F.expr("shiftright(user_id, 6)").alias("word")
        ).agg(
            F.expr("bit_or(shiftleft(1L, cast(pmod(user_id, 64) as int)))").alias(
                "bits"
            )
        )
        n = (
            words.groupBy("event_type")
            .agg(F.sum(F.bit_count("bits")).alias("n"))
            .first()
            .n
        )
        assert n == 2

    def test_interval_union_deterministic_on_tied_timestamps(self, spark, tmp_path):
        # Two events at the SAME ts after a gap: island assignment must
        # not depend on sort stability of a non-unique (s, e) order.
        from tomasz_weight_tracker_spark.plans.advanced import q_interval_union_time

        base = datetime.datetime(2024, 1, 1, 0, 0, 0)
        rows = [
            (1, 1, base, "a", 0.0, ""),
            (2, 1, base + datetime.timedelta(hours=2), "a", 0.0, ""),
            (3, 1, base + datetime.timedelta(hours=2), "b", 0.0, ""),
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, user_id long, ts timestamp, event_type string, "
            "value double, props string",
        )
        path = str(tmp_path / "ev")
        df.write.parquet(path + "/events.parquet")
        r = q_interval_union_time(spark, path).first()
        assert r.n_islands == 2
        assert r.covered_minutes == 60  # two 30-min islands, never 180

    def test_snm_head_is_ascii_normalized(self, spark, tmp_path):
        # Multibyte chars must not reach levenshtein (byte-counted in
        # DuckDB, codepoint-counted in Spark).
        from tomasz_weight_tracker_spark.plans.advanced import q_snm_near_dup

        base = "café latte ritual " * 4
        rows = [
            (1, base, "en", "s", len(base)),
            (2, base + "x", "en", "s", len(base) + 1),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        path = str(tmp_path / "docs")
        df.write.parquet(path + "/documents.parquet")
        pairs = q_snm_near_dup(spark, path).collect()
        # The accented char is stripped before comparison; the docs
        # still pair up on the ASCII remainder.
        assert [(p.doc_a, p.doc_b) for p in pairs] == [(1, 2)]

    def test_drain_to_memory_raises_on_timeout(self, spark, sf):
        import pytest as _pytest

        from tomasz_weight_tracker_spark.streaming.pipelines import (
            drain_to_memory,
            stream_events,
        )

        # A 1 ms deadline cannot fit stream startup + a micro-batch:
        # the drain must raise, not hand back a truncated table.
        df = stream_events(spark, sf).select("event_id")
        with _pytest.raises(RuntimeError, match="did not finish"):
            drain_to_memory(spark, df, "t_timeout", "append", timeout_sec=0.001)


class TestDocChunking:
    def test_chunks_tile_with_overlap(self, spark, tmp_path):
        from tomasz_weight_tracker_spark.plans.advanced import (
            _CHUNK_LEN,
            _CHUNK_STRIDE,
            q_doc_chunking,
        )

        text = "x" * 700  # -> offsets 0,192,384,576 (4 chunks)
        rows = [(1, text, "en", "s", len(text)), (2, "", "en", "s", 0)]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        path = str(tmp_path / "docs")
        df.write.parquet(path + "/documents.parquet")
        out = sorted(
            q_doc_chunking(spark, path).collect(), key=lambda r: (r.doc_id, r.chunk_idx)
        )
        doc1 = [r for r in out if r.doc_id == 1]
        assert [r.chunk_idx for r in doc1] == [0, 1, 2, 3]
        # Full chunks except the tail; consecutive chunks overlap.
        assert [r.chunk_len for r in doc1] == [256, 256, 256, 700 - 3 * _CHUNK_STRIDE]
        assert _CHUNK_LEN - _CHUNK_STRIDE == 64
        # Coverage: every char position is inside >= 1 chunk.
        covered = set()
        for r in doc1:
            start = r.chunk_idx * _CHUNK_STRIDE
            covered.update(range(start, start + r.chunk_len))
        assert covered == set(range(700))
        # Empty doc still yields exactly one (empty) chunk — total fn.
        doc2 = [r for r in out if r.doc_id == 2]
        assert len(doc2) == 1 and doc2[0].chunk_len == 0


class TestSourceRebalance:
    def test_kept_counts_approach_uniform_target(self, spark, sf):
        from tomasz_weight_tracker_spark.plans.advanced import q_source_rebalance

        rows = q_source_rebalance(spark, sf).collect()
        per_source = min(r.n_total for r in rows)
        for r in rows:
            assert r.n_kept <= r.n_total
            # Hash thresholding is binomial around the target rate;
            # allow 30% relative slack at sf0.001 sizes.
            assert abs(r.n_kept - per_source) <= max(10, 0.3 * per_source)
        # The smallest source keeps everything (rate 1.0 exactly).
        smallest = min(rows, key=lambda r: r.n_total)
        assert smallest.n_kept == smallest.n_total


class TestBitmapRolling:
    def test_trailing_window_carries_silent_words(self, spark, tmp_path):
        from tomasz_weight_tracker_spark.plans.advanced import (
            q_bitmap_rolling_users_7d,
        )

        # user 100 appears only on day 1; user 1 on days 1 and 3.
        # Day 3's 7-day window must still count user 100 (whose word is
        # silent on day 3) — the dense-grid property.
        d = datetime.datetime
        rows = [
            (1, 1, d(2024, 1, 1, 9), "a", 0.0, ""),
            (2, 100, d(2024, 1, 1, 10), "a", 0.0, ""),
            (3, 1, d(2024, 1, 3, 9), "a", 0.0, ""),
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, user_id long, ts timestamp, event_type string, "
            "value double, props string",
        )
        path = str(tmp_path / "ev")
        df.write.parquet(path + "/events.parquet")
        out = {
            str(r.day): r.n_users_7d
            for r in q_bitmap_rolling_users_7d(spark, path).collect()
        }
        assert out == {"2024-01-01": 2, "2024-01-03": 2}


class TestDocNovelty:
    def test_unique_vs_boilerplate(self, spark, tmp_path):
        from tomasz_weight_tracker_spark.plans.advanced import q_doc_novelty

        shared = "abcdefghij" * 6  # 60 chars shared verbatim
        rows = [
            (1, shared, "en", "s", 60),
            (2, shared, "en", "s", 60),  # exact clone: novelty 0
            (3, "zq1x7vw93kpl2m48yt60ahrd5", "en", "s", 25),  # all-unique
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        path = str(tmp_path / "docs")
        df.write.parquet(path + "/documents.parquet")
        out = {r.doc_id: r for r in q_doc_novelty(spark, path).collect()}
        assert out[1].novelty == 0.0 and out[2].novelty == 0.0
        assert out[3].novelty == 1.0
        assert out[3].n_shingles == out[3].n_unique == 25 - 4


class TestEmptyInputs:
    """Every advanced query must run (not crash) on EMPTY tables — the
    day-one state of any incremental pipeline."""

    def test_all_advanced_queries_tolerate_empty_tables(self, spark, tmp_path, sf_path):
        import tomasz_weight_tracker_spark.plans.advanced as A
        from tomasz_weight_tracker_spark.plans import REGISTRY
        from tomasz_weight_tracker_spark.plans.catalog import load

        src = sf_path("sf0.001")
        path = str(tmp_path / "empty")
        for table in ("events", "documents", "orders", "lineitem"):
            load(spark, src, table).limit(0).write.parquet(
                f"{path}/{table}.parquet"
            )
        advanced_queries = [
            n
            for n, q in REGISTRY.items()
            if q.build.__module__ == A.__name__ and not n.startswith("streaming_")
        ]
        assert len(advanced_queries) >= 14
        for name in advanced_queries:
            rows = REGISTRY[name].build(spark, path).collect()
            if name == "graph_triangle_stats":
                # Scalar-aggregate query: one row of zeros/NULLs.
                assert len(rows) == 1 and rows[0].n_edges == 0
            elif name == "table_profile_orders":
                # A profile of an empty table IS rows: one per column,
                # n=0, NULL min/max.
                assert len(rows) == 4
                assert all(r.n == 0 and r.min_v is None for r in rows)
            else:
                assert rows == [], f"{name} emitted rows from empty input"


class TestSensorFoldSparseGrid:
    def test_conflict_columns_exist_on_short_span(self, spark, tmp_path):
        """Events spanning <12 hours used to produce a grid with no
        h%12==0 / h%15==0 hour, so the data-dependent conflict columns
        never materialized on the Spark side while the oracle
        hard-codes them (spurious schema mismatch).  The anchor hours
        guarantee both columns for ANY grid."""
        from tomasz_weight_tracker_spark.plans import REGISTRY

        d = datetime.datetime
        # Five events inside one afternoon: hours h with h%12 in 13..17.
        rows = [
            (i, 1, d(2024, 3, 5, 13 + i), "a", 0.0, "") for i in range(5)
        ]
        df = spark.createDataFrame(
            rows,
            "event_id long, user_id long, ts timestamp, event_type string, "
            "value double, props string",
        )
        path = str(tmp_path / "ev")
        df.write.parquet(path + "/events.parquet")
        out = REGISTRY["sensor_merge_fold"].build(spark, path)
        assert "!A! temp" in out.columns and "!B! humidity" in out.columns
        rows_out = out.collect()
        # Anchor rows themselves carry the conflicts.
        a_vals = [r["!A! temp"] for r in rows_out if r["!A! temp"] is not None]
        b_vals = [r["!B! humidity"] for r in rows_out if r["!B! humidity"] is not None]
        assert a_vals and b_vals


class TestIncrementalTopkGate:
    def test_batching_invariance(self, spark, sf):
        """The monotonicity theorem in practice: ANY batching of the
        same rows folds to the same top-k state."""
        import tempfile

        from tomasz_weight_tracker_spark.operators.incremental import (
            incremental_topk,
        )
        from tomasz_weight_tracker_spark.plans.catalog import load

        ev = (
            load(spark, sf, "events")
            .filter(F.col("value").isNotNull())
            .select("event_id", "user_id", "value")
        )

        def fold(n_batches):
            with tempfile.TemporaryDirectory() as d:
                out = None
                for r in range(n_batches):
                    out = incremental_topk(
                        spark,
                        ev.filter(F.col("event_id") % n_batches == r),
                        f"{d}/state",
                        order_col="value",
                        k=25,
                        tiebreak_cols=["event_id"],
                    )
                return sorted((r.event_id, r.value) for r in out.collect())

        assert fold(1) == fold(3) == fold(5)
