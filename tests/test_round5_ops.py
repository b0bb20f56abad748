"""Round-5 operator tests: BM25 retrieval, weighted sampling, the
bucketized interval join, the bipartite degree profile, and the
hopping-window streaming gate."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


@pytest.fixture
def sf(sf_path):
    return sf_path("sf0.001")


def _docs(spark, tmp_path, rows, sub="docs"):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    path = str(tmp_path / sub)
    df.write.parquet(path + "/documents.parquet")
    return path


def _events(spark, tmp_path, rows, sub="ev"):
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp, value double"
    )
    path = str(tmp_path / sub)
    df.write.parquet(path + "/events.parquet")
    return path


def _ts(h, m=0, s=0):
    return dt.datetime(2024, 3, 1, h, m, s)


class TestBm25Search:
    def test_tf_and_idf_ordering(self, spark, tmp_path):
        from tomasz_weight_tracker_spark.plans.similarity_ann import q_bm25_search

        # doc 1: 'hash' thrice; doc 2: once; doc 3: no query terms at
        # all (must be absent); doc 4: only the common term 'join',
        # which every matching doc shares -> lower idf than 'hash'.
        rows = [
            (1, "hash hash hash table scan", "en", "s", 25),
            (2, "hash table scan filter row", "en", "s", 26),
            (3, "completely unrelated words here", "en", "s", 31),
            (4, "join join join table scan", "en", "s", 25),
        ]
        path = _docs(spark, tmp_path, rows)
        out = {r.doc_id: r.score_e6 for r in q_bm25_search(spark, path).collect()}
        assert 3 not in out
        assert out[1] > out[2]  # more tf -> higher score
        assert set(out) == {1, 2, 4}

    def test_topk_is_take_ordered_no_corpus_shuffle(self, spark, sf):
        import re

        from tomasz_weight_tracker_spark.plans import REGISTRY

        df = REGISTRY["bm25_search"].build(spark, sf)
        plan = df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "TakeOrderedAndProject" in plan
        # The only exchange is the 1-row stats aggregate; the scored
        # corpus itself reaches top-k without shuffling.
        assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan[:2000]


class TestWeightedSample:
    def test_deterministic_and_sized(self, spark, sf):
        from tomasz_weight_tracker_spark.plans import REGISTRY

        a = [tuple(r) for r in REGISTRY["weighted_sample_events"].build(spark, sf).collect()]
        b = [tuple(r) for r in REGISTRY["weighted_sample_events"].build(spark, sf).collect()]
        assert a == b  # no RNG state anywhere
        from tomasz_weight_tracker_spark.plans.sketches import _WSAMP_K

        assert len(a) == _WSAMP_K

    def test_weight_bias(self, spark, tmp_path):
        # Two strata: weight 100.0 vs weight 1.0, equal counts.  The
        # heavy stratum must dominate the sample (in expectation 100:1;
        # assert a conservative majority).
        from tomasz_weight_tracker_spark.plans.sketches import q_weighted_sample_events

        rows = [(i, 1, "view", _ts(9, 0, i % 60), 100.0) for i in range(500)]
        rows += [(1000 + i, 2, "view", _ts(10, 0, i % 60), 1.0) for i in range(500)]
        path = _events(spark, tmp_path, rows)
        out = q_weighted_sample_events(spark, path).collect()
        heavy = sum(1 for r in out if r.value == 100.0)
        assert heavy > len(out) * 0.8, f"heavy stratum got {heavy}/{len(out)}"

    def test_zero_shuffle_take_ordered(self, spark, sf):
        import re

        from tomasz_weight_tracker_spark.plans import REGISTRY

        df = REGISTRY["weighted_sample_events"].build(spark, sf)
        plan = df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "TakeOrderedAndProject" in plan
        assert not re.findall(r"\(\d+\) Exchange", plan), plan[:1500]


class TestIntervalBucketJoin:
    def test_boundaries_and_cross_bucket_dedup(self, spark, tmp_path):
        from tomasz_weight_tracker_spark.plans.time_series import q_interval_bucket_join

        rows = [
            # Window 1 opens 09:10 -> [09:10, 09:40): spans buckets.
            (1, 1, "error", _ts(9, 10), 1.0),
            # In-window purchases: at start (incl.), mid, 09:39:59.
            (10, 1, "purchase", _ts(9, 10), 1.0),
            (11, 1, "purchase", _ts(9, 25), 1.0),
            (12, 1, "purchase", _ts(9, 39, 59), 1.0),
            # At w_end exactly: EXCLUDED (half-open).
            (13, 1, "purchase", _ts(9, 40), 1.0),
            # Before the window.
            (14, 1, "purchase", _ts(9, 9, 59), 1.0),
            # Window 2 catches nothing -> count 0 row.
            (2, 2, "error", _ts(15, 0), 1.0),
        ]
        path = _events(spark, tmp_path, rows)
        out = {r.win_id: r.n_purchases for r in q_interval_bucket_join(spark, path).collect()}
        assert out == {1: 3, 2: 0}

    def test_no_pair_join_only_broadcast_offsets(self, spark, sf):
        import re

        from tomasz_weight_tracker_spark.plans import REGISTRY

        df = REGISTRY["interval_bucket_join"].build(spark, sf)
        plan = df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        # Round-6 rewrite: the count rides an event-boundary prefix sum,
        # so there is NO join between probes and windows at all — the
        # only join in the plan is the broadcast of the tiny per-shard
        # offset table.  Any sort-merge/shuffled-hash/nested-loop join
        # here would mean the quadratic pair stream came back.
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan
        assert "ShuffledHashJoin" not in plan
        assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 1, plan[:2000]

    def test_hot_slice_stays_linear_and_exact(self, spark, tmp_path):
        # One 15-minute slice holds 60 windows and 2000 probes — the
        # round-1..5 bucketized equi-join would emit ~120k candidate
        # pairs from this slice alone; the prefix-sum plan touches each
        # row once.  Assert exact counts against a brute-force oracle.
        from tomasz_weight_tracker_spark.plans.time_series import q_interval_bucket_join

        rows = []
        wins = {}
        for i in range(60):
            t = _ts(9, i % 15, i)  # all window starts inside 09:00-09:15
            rows.append((i, 1, "error", t, 1.0))
            wins[i] = t
        probes = []
        for j in range(2000):
            t = _ts(9, (j * 7) % 15, j % 60)
            rows.append((1000 + j, 2, "purchase", t, 1.0))
            probes.append(t)
        path = _events(spark, tmp_path, rows)
        out = {
            r.win_id: r.n_purchases
            for r in q_interval_bucket_join(spark, path).collect()
        }
        expected = {
            i: sum(
                1
                for p in probes
                if s <= p < s + dt.timedelta(minutes=30)
            )
            for i, s in wins.items()
        }
        assert out == expected


class TestGraphDegreeProfile:
    def test_known_bipartite_graph(self, spark, tmp_path):
        from tomasz_weight_tracker_spark.plans.relational import q_graph_degree_profile

        # part 1 <- suppliers {1,2,3}; part 2 <- {1}; supplier 1 spans
        # both parts.  Degrees: parts (3, 1); suppliers (2, 1, 1).
        rows = [(1, 1, 1), (1, 2, 1), (1, 3, 1), (2, 1, 2)]
        df = spark.createDataFrame(
            [(o, s, p, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts(9)) for o, s, p in rows],
            "l_orderkey long, l_suppkey long, l_partkey long, l_linenumber int, "
            "l_quantity double, l_extendedprice double, l_discount double, "
            "l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp",
        )
        path = str(tmp_path / "li")
        df.write.parquet(path + "/lineitem.parquet")
        got = {
            (r.side, r.deg): r.n_nodes
            for r in q_graph_degree_profile(spark, path).collect()
        }
        assert got == {
            ("suppliers_per_part", 3): 1,
            ("suppliers_per_part", 1): 1,
            ("parts_per_supplier", 2): 1,
            ("parts_per_supplier", 1): 2,
        }


class TestTriangleProjectionCap:
    def _lineitem(self, spark, tmp_path, rows):
        df = spark.createDataFrame(
            [(o, s, p, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts(9)) for o, s, p in rows],
            "l_orderkey long, l_suppkey long, l_partkey long, l_linenumber int, "
            "l_quantity double, l_extendedprice double, l_discount double, "
            "l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp",
        )
        path = str(tmp_path / "li")
        df.write.parquet(path + "/lineitem.parquet")
        return path

    def test_hot_part_emits_no_edges(self, spark, tmp_path):
        """Round-5 verdict item 5 (cap enforced) + round-6 item 5 (cap
        data-driven): a part whose supplier count exceeds
        _TRI_CAP_MARGIN x median(suppliers-per-part) must be dropped
        BEFORE the pair join — its k(k-1)/2 edge emission is bounded
        to zero, and the normal parts' triangle is still found.  The
        median derivation is exactly why this works adversarially:
        the hot part drags a tail quantile (p99.9 of 4 parts = the
        max) up to itself, but cannot move the median of the normal
        parts (2), so the derived cap is 32 and degree 100 is out."""
        from tomasz_weight_tracker_spark.plans.relational import q_graph_triangle_stats

        # Normal parts 1-3 wire suppliers {1,2,3} into one triangle
        # (each part shared by a distinct supplier pair).
        rows = [(1, 1, 1), (1, 2, 1), (2, 2, 2), (2, 3, 2), (3, 1, 3), (3, 3, 3)]
        # Hot part 99: far more suppliers than the derived cap —
        # uncapped it would emit k(k-1)/2 edges and swamp the graph.
        k = 100
        rows += [(9, 100 + i, 99) for i in range(k)]
        path = self._lineitem(spark, tmp_path, rows)
        out = q_graph_triangle_stats(spark, path).collect()[0]
        # Only the 3 co-supply edges of the normal parts survive; the
        # hot part contributes zero pairs (not k*(k-1)/2 = 4950).
        assert out.n_edges == 3
        assert out.n_triangles == 1
        # Node count still reflects the FULL supplier population — the
        # cap prunes edges, not the vertex census.
        assert out.n_nodes == 3 + k

    def test_cap_does_not_bind_on_gate_data(self, spark, sf):
        """The gate tables' co-supply degrees are near-uniform (sf0.001
        median 10 / max 10; sf0.01 median 26 / max 41; sf0.1 median 29
        / max 52), so the DERIVED cap — _TRI_CAP_MARGIN x lower-median
        — must never bind, leaving gate-scale results identical to the
        uncapped round-5 numbers (the oracle hash-match asserts values;
        this pins the degree precondition the no-op relies on,
        deriving the cap the same way the query does)."""
        from tomasz_weight_tracker_spark.plans import REGISTRY
        from tomasz_weight_tracker_spark.plans.relational import _TRI_CAP_MARGIN

        prof = (
            REGISTRY["graph_degree_profile"]
            .build(spark, sf)
            .filter(F.col("side") == "suppliers_per_part")
            .collect()
        )
        degs = sorted((r.deg, r.n_nodes) for r in prof)
        total = sum(n for _, n in degs)
        k, cum, med = (total + 1) // 2, 0, None
        for deg, n in degs:
            cum += n
            if cum >= k:
                med = deg
                break
        max_deg = max(deg for deg, _ in degs)
        assert med is not None and max_deg <= _TRI_CAP_MARGIN * med


class TestLexicalCosinePairs:
    def test_finds_embedded_copy_jaccard_misses(self, spark, tmp_path):
        from tomasz_weight_tracker_spark.plans.similarity_ann import q_lexical_cosine_pairs

        # doc 2 contains doc 1 verbatim inside 3x unrelated filler —
        # the size-asymmetric case cosine handles: shared rare
        # shingles / sqrt(|small| * |large|) stays high.  doc 3 is
        # unrelated.  The corpus is padded with distinct docs so the
        # probe shingles stay under the df cap.
        core = "zq xv wk jj qp mm zz vv kk pp"
        filler = " ".join(f"w{i} y{i}" for i in range(20))
        rows = [
            (1, core, "en", "s", len(core)),
            (2, core + " " + filler, "en", "s", 1),
            (3, "totally different content here", "en", "s", 1),
        ]
        rows += [(10 + i, f"pad doc number {i} unique {i*7}", "en", "s", 1) for i in range(10)]
        path = _docs(spark, tmp_path, rows, sub="lexcos")
        out = {(r.id_a, r.id_b): r.cos_e6 for r in q_lexical_cosine_pairs(spark, path).collect()}
        assert (1, 2) in out
        assert all(3 not in pair for pair in out)

    def test_pair_emission_bounded_by_df_cap(self, spark, tmp_path):
        from tomasz_weight_tracker_spark.plans.similarity_ann import (
            _LEXCOS_DF_MAX,
            q_lexical_cosine_pairs,
        )

        # 200 identical docs: every shingle has df=200 > cap -> the
        # whole degenerate clump emits ZERO pairs instead of 19,900.
        rows = [(i, "identical rare words qqq zzz", "en", "s", 1) for i in range(200)]
        assert 200 > _LEXCOS_DF_MAX
        path = _docs(spark, tmp_path, rows, sub="lexcap")
        assert q_lexical_cosine_pairs(spark, path).count() == 0


class TestJoinKeySkewProfile:
    def test_hot_key_tops_profile(self, spark, tmp_path):
        from tomasz_weight_tracker_spark.plans.relational import q_join_key_skew_profile

        rows = [(i, 7, "view", _ts(9, 0, i % 60), 1.0) for i in range(900)]
        rows += [(10000 + i, 100 + i, "view", _ts(10), 1.0) for i in range(100)]
        path = _events(spark, tmp_path, rows)
        out = q_join_key_skew_profile(spark, path).collect()
        top = out[0]
        assert top.k == 7 and top.n == 900
        assert top.share_e9 == 900_000_000  # 90% of 1000 rows
        # 101 distinct keys, mean load ~9.9 -> hot key ~90.9x the mean.
        assert 90_000_000 < top.over_avg_e6 < 92_000_000


class TestReferentialIntegrity:
    def test_injected_orphans_counted(self, spark, tmp_path):
        from tomasz_weight_tracker_spark.plans.relational import q_referential_integrity_audit

        path = str(tmp_path / "ri")
        spark.createDataFrame(
            [(1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts(9)),
             (2, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts(9)),  # orphan order
             (1, 1, 99, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", _ts(9))],  # orphan part
            "l_orderkey long, l_suppkey long, l_partkey long, l_linenumber int, "
            "l_quantity double, l_extendedprice double, l_discount double, "
            "l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp",
        ).write.parquet(path + "/lineitem.parquet")
        spark.createDataFrame(
            [(1, 10, "O", 1.0, _ts(9), "1-URGENT")],
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        ).write.parquet(path + "/orders.parquet")
        spark.createDataFrame(
            [(10, "c", "addr", 1, "p", 1.0, "BUILDING", "x")],
            "c_custkey long, c_name string, c_address string, c_nationkey long, "
            "c_phone string, c_acctbal double, c_mktsegment string, c_comment string",
        ).write.parquet(path + "/customer.parquet")
        spark.createDataFrame(
            [(1, "p1", "m", "t", 1, "c", 1.0)],
            "p_partkey long, p_name string, p_mfgr string, p_type string, "
            "p_size int, p_container string, p_retailprice double",
        ).write.parquet(path + "/part.parquet")
        got = {r.edge: (r.n_child, r.n_orphans) for r in q_referential_integrity_audit(spark, path).collect()}
        assert got["lineitem.l_orderkey->orders"] == (3, 1)
        assert got["orders.o_custkey->customer"] == (1, 0)
        assert got["lineitem.l_partkey->part"] == (3, 1)


class TestStreamingUpsertState:
    def test_multi_batch_converges_to_keep_last(self, spark, tmp_path, sf_path):
        """4-file time-split replay with maxFilesPerTrigger=1: the
        foreachBatch MERGE sink must converge to keep-last-per-key
        ACROSS micro-batches — later batches overwrite earlier state,
        untouched keys survive."""
        import tempfile

        from pyspark.sql import Window as W

        from tomasz_weight_tracker_spark.plans.catalog import load
        from tomasz_weight_tracker_spark.streaming.pipelines import stream_upsert

        ev = load(spark, sf_path("sf0.001"), "events").filter(
            F.col("value").isNotNull()
        )
        out = str(tmp_path / "evsplit")
        ev.withColumn(
            "__f", F.ntile(4).over(W.orderBy("ts", "event_id"))
        ).repartition(1).sortWithinPartitions("ts").write.partitionBy("__f").parquet(out)
        schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(out)
            .select(
                "event_id", "user_id", "ts",
                F.floor(F.col("value") * F.lit(1e4)).cast("long").alias("qv"),
            )
        )

        def keep_last(batch):
            w = W.partitionBy("user_id").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
            return (
                batch.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select("user_id", F.col("qv").alias("last_qv"), F.col("ts").alias("last_ts"))
            )

        with tempfile.TemporaryDirectory() as d:
            q = stream_upsert(
                stream, f"{d}/state", keys=["user_id"],
                checkpoint=f"{d}/ckpt", prepare=keep_last,
            ).start()
            assert q.awaitTermination(300)
            got = {
                r.user_id: (r.last_qv, r.last_ts)
                for r in spark.read.parquet(f"{d}/state").collect()
            }
        w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
        want = {
            r.user_id: (r.last_qv, r.last_ts)
            for r in ev.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "user_id",
                F.floor(F.col("value") * F.lit(1e4)).cast("long").alias("last_qv"),
                F.col("ts").alias("last_ts"),
            )
            .collect()
        }
        assert got == want

    def test_out_of_order_batches_converge_with_order_by(self, spark, tmp_path, sf_path):
        """Round-5 advice: per-batch keep-last + plain upsert is
        last-BATCH-wins — a later micro-batch carrying OLDER rows
        overwrites newer state.  With order_by the merge is
        recency-wins, so the final table equals the global keep-last
        oracle even when files replay newest-first."""
        import tempfile

        from pyspark.sql import Window as W

        from tomasz_weight_tracker_spark.plans.catalog import load
        from tomasz_weight_tracker_spark.streaming.pipelines import stream_upsert

        ev = load(spark, sf_path("sf0.001"), "events").filter(
            F.col("value").isNotNull()
        )
        out = str(tmp_path / "evrev")
        # File 1 holds the NEWEST quartile, file 4 the oldest — an
        # in-order replay of these files is an out-of-EVENT-order feed.
        ev.withColumn(
            "__f", F.ntile(4).over(W.orderBy(F.col("ts").desc(), F.col("event_id").desc()))
        ).repartition(1).write.partitionBy("__f").parquet(out)
        schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(out)
            .select(
                "event_id", "user_id", "ts",
                F.floor(F.col("value") * F.lit(1e4)).cast("long").alias("qv"),
            )
        )

        def keep_last(batch):
            w = W.partitionBy("user_id").orderBy(
                F.col("ts").desc(), F.col("event_id").desc()
            )
            return (
                batch.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select(
                    "user_id",
                    F.col("qv").alias("last_qv"),
                    F.col("ts").alias("last_ts"),
                    F.col("event_id").alias("last_event_id"),
                )
            )

        with tempfile.TemporaryDirectory() as d:
            q = stream_upsert(
                stream, f"{d}/state", keys=["user_id"],
                checkpoint=f"{d}/ckpt", prepare=keep_last,
                order_by=["last_ts", "last_event_id"],
            ).start()
            assert q.awaitTermination(300)
            got = {
                r.user_id: (r.last_qv, r.last_ts)
                for r in spark.read.parquet(f"{d}/state").collect()
            }
        w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
        want = {
            r.user_id: (r.last_qv, r.last_ts)
            for r in ev.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "user_id",
                F.floor(F.col("value") * F.lit(1e4)).cast("long").alias("last_qv"),
                F.col("ts").alias("last_ts"),
            )
            .collect()
        }
        assert got == want


class TestSnapshotPatchApply:
    def test_roundtrip_counts_and_membership(self, spark, sf):
        from tomasz_weight_tracker_spark.plans import REGISTRY
        from tomasz_weight_tracker_spark.plans.relational import _DIFF_DELETE, _DIFF_INSERT
        from tomasz_weight_tracker_spark.plans.catalog import load

        out = REGISTRY["snapshot_patch_apply"].build(spark, sf)
        orders = load(spark, sf, "orders")
        n_old = orders.count()
        n_del = orders.filter(F.col("o_orderkey") % _DIFF_DELETE == 0).count()
        n_ins = orders.filter(F.col("o_orderkey") % _DIFF_INSERT == 0).count()
        # Reconstructed new = old - deletes + inserts.
        assert out.count() == n_old - n_del + n_ins
        # A deleted key is gone; an inserted twin (negative key) exists.
        assert out.filter(F.col("o_orderkey") % _DIFF_DELETE == 0).filter(
            F.col("o_orderkey") > 0
        ).count() == 0
        assert out.filter(F.col("o_orderkey") < 0).count() == n_ins


class TestEmbedDupClusters:
    def test_clusters_have_pair_support(self, spark, sf):
        # Every cluster groups >= 2 vectors, the canonical id is the
        # min member, and cluster membership covers exactly the nodes
        # of the near-pair graph.
        from tomasz_weight_tracker_spark.plans import REGISTRY

        clusters = REGISTRY["embed_dup_clusters"].build(spark, sf).collect()
        assert clusters, "expected near-dup clusters at sf0.001"
        assert all(r.n_members >= 2 for r in clusters)
        assert all(r.canonical_id == r.component for r in clusters)
        pairs = (
            REGISTRY["embed_lsh_near_dup"]
            .build(spark, sf)
            .filter(F.col("is_near"))
            .select("id_a", "id_b")
            .collect()
        )
        nodes = {r.id_a for r in pairs} | {r.id_b for r in pairs}
        assert sum(r.n_members for r in clusters) == len(nodes)


class TestRound5EmptyInputs:
    def test_new_queries_tolerate_empty_tables(self, spark, tmp_path, sf_path):
        """Day-one totality for the round-5 queries outside the
        test_advanced.py empty sweep (which already covers patch-apply,
        degree profile, and incremental agg)."""
        from tomasz_weight_tracker_spark.plans import REGISTRY
        from tomasz_weight_tracker_spark.plans.catalog import load

        src = sf_path("sf0.001")
        path = str(tmp_path / "empty")
        for table in (
            "events", "documents", "embeddings", "orders", "lineitem",
            "customer", "part",
        ):
            load(spark, src, table).limit(0).write.parquet(
                f"{path}/{table}.parquet"
            )
        empty_ok = [
            "bm25_search",
            "weighted_sample_events",
            "interval_bucket_join",
            "lexical_cosine_pairs",
            "join_key_skew_profile",
            "embed_dup_clusters",
            "fuzzy_name_match",
        ]
        for name in empty_ok:
            rows = REGISTRY[name].build(spark, path).collect()
            assert rows == [], f"{name} emitted rows from empty input"
        # The RI audit of an empty schema IS rows: three edges with
        # zero children (orphan sum over no rows folds to NULL).
        ri = REGISTRY["referential_integrity_audit"].build(spark, path).collect()
        assert len(ri) == 3 and all(r.n_child == 0 for r in ri)


class TestStreamingHopping:
    def test_every_event_in_exactly_two_windows(self, spark, sf):
        from tomasz_weight_tracker_spark.plans import REGISTRY
        from tomasz_weight_tracker_spark.plans.catalog import load

        out = REGISTRY["streaming_hopping_counts"].build(spark, sf)
        total = out.agg(F.sum("n_events")).first()[0]
        n_events = load(spark, sf, "events").count()
        assert total == 2 * n_events
