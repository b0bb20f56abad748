"""Structured Streaming tests: each streaming operator is driven with
an availableNow trigger over file input and compared against its batch
twin on the same data (the engine's cross-engine pattern, applied to
batch-vs-stream)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tomasz_weight_tracker_spark.operators.time_ops import bucket_end_labeled, peak_category
from tomasz_weight_tracker_spark.streaming import (
    incremental_file_sync,
    stream_dedup_keep_first,
    stream_fifteen_minute_usage,
    stream_sessionize,
)

SCHEMA = "meter string, ts timestamp, value double"


def write_events(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def run_stream(spark, df, name):
    q = df.writeStream.format("memory").queryName(name).outputMode("complete").trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def run_stream_append(spark, df, name):
    q = df.writeStream.format("memory").queryName(name).outputMode("append").trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def minute_rows(start: str, n: int, meter="m1", value=1.0):
    t0 = dt.datetime.fromisoformat(start)
    return [(meter, t0 + dt.timedelta(minutes=i), value) for i in range(1, n + 1)]


class TestStreamFifteenMinute:
    def test_matches_batch_bucketing(self, spark, tmp_path):
        src = str(tmp_path / "events")
        rows = minute_rows("2024-06-01 10:00:00", 45)  # minutes 10:01..10:45
        write_events(spark, src, rows)

        stream = spark.readStream.schema(SCHEMA).parquet(src)
        out = run_stream(
            spark,
            stream_fifteen_minute_usage(stream, series_keys=("meter",)),
            "s15",
        ).collect()

        batch = (
            spark.read.parquet(src)
            .withColumn("Bucket", bucket_end_labeled(F.col("ts")))
            .withColumn("cat", peak_category(F.col("ts")))
            .groupBy("meter", "Bucket")
            .agg(
                F.count(F.lit(1)).alias("Minutes"),
                F.sum(F.when(F.col("cat") == "P", F.col("value"))).alias("P_Usage"),
            )
            .collect()
        )
        got = {(r.meter, r.Bucket): (r.Minutes, r.P_Usage) for r in out}
        want = {(r.meter, r.Bucket): (r.Minutes, r.P_Usage) for r in batch}
        assert got == want
        assert len(got) == 3  # 10:00, 10:15, 10:30 end-labeled buckets


class TestStreamDedup:
    def test_first_arrival_kept(self, spark, tmp_path):
        src = str(tmp_path / "dups")
        t = dt.datetime(2024, 6, 1, 10, 0)
        write_events(spark, src, [("m1", t, 1.0), ("m1", t, 2.0), ("m2", t, 3.0)])
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        out = run_stream_append(
            spark, stream_dedup_keep_first(stream, ["meter", "ts"]), "sdedup"
        ).collect()
        assert len(out) == 2
        assert {r.meter for r in out} == {"m1", "m2"}


class TestStreamSessionize:
    def test_gap_splits_sessions(self, spark, tmp_path):
        src = str(tmp_path / "sess")
        t0 = dt.datetime(2024, 6, 1, 10, 0)
        rows = [
            ("u1", t0, 1.0),
            ("u1", t0 + dt.timedelta(minutes=10), 1.0),  # same session (gap 30m)
            ("u1", t0 + dt.timedelta(minutes=90), 1.0),  # new session
        ]
        spark.createDataFrame(rows, "user_id string, ts timestamp, value double").write.mode(
            "overwrite"
        ).parquet(src)
        stream = spark.readStream.schema("user_id string, ts timestamp, value double").parquet(src)
        out = run_stream(spark, stream_sessionize(stream), "ssess").collect()
        assert len(out) == 2
        assert sorted(r.n_events for r in out) == [1, 2]


class TestIncrementalFileSync:
    def test_each_file_processed_exactly_once(self, spark, tmp_path):
        src, ckpt, out = (str(tmp_path / d) for d in ("in", "ckpt", "out"))
        write_events(spark, src, minute_rows("2024-06-01 10:00:00", 3))
        q = incremental_file_sync(spark, src, ckpt, out, SCHEMA)
        q.awaitTermination(120)
        assert spark.read.parquet(out).count() == 3

        # Second batch of files: only the NEW rows are appended.
        write_events(spark, src, minute_rows("2024-06-01 11:00:00", 2))
        q = incremental_file_sync(spark, src, ckpt, out, SCHEMA)
        q.awaitTermination(120)
        assert spark.read.parquet(out).count() == 5  # 3 + 2, no reprocessing


class TestRunningStats:
    def test_state_persists_across_runs(self, spark, tmp_path):
        from tomasz_weight_tracker_spark.streaming.pipelines import stream_running_stats

        src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
        write_events(spark, src, [("m1", dt.datetime(2024, 6, 1, 10, 0), 2.0),
                                  ("m1", dt.datetime(2024, 6, 1, 10, 1), 4.0),
                                  ("m2", dt.datetime(2024, 6, 1, 10, 0), 10.0)])

        def run(name):
            # foreachBatch sink: memory sinks cannot recover a checkpoint.
            captured = {}

            def sink(batch_df, batch_id):
                for r in batch_df.collect():
                    captured[r.meter] = r

            stream = spark.readStream.schema(SCHEMA).parquet(src)
            q = (stream_running_stats(stream)
                 .writeStream.foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .outputMode("update").trigger(availableNow=True).start())
            q.awaitTermination(120)
            return captured

        out1 = run("rs1")
        assert out1["m1"].n == 2 and out1["m1"].total == 6.0 and out1["m1"].mean == 3.0
        assert out1["m2"].n == 1 and out1["m2"].mean == 10.0

        # New files -> second availableNow run resumes from checkpointed
        # state: counts ACCUMULATE rather than restart.
        write_events(spark, src, [("m1", dt.datetime(2024, 6, 1, 11, 0), 6.0)])
        out2 = run("rs2")
        assert out2["m1"].n == 3 and out2["m1"].total == 12.0 and out2["m1"].mean == 4.0


class TestStreamStaticJoin:
    def test_stream_enriched_by_broadcast_dim(self, spark, tmp_path):
        """Stream-static join: each micro-batch joins against a static
        dimension (broadcast - no stream state, no watermark needed)."""
        src = str(tmp_path / "ssj")
        write_events(spark, src, minute_rows("2024-06-01 10:00:00", 3, meter="m1")
                     + minute_rows("2024-06-01 10:00:00", 2, meter="m2"))
        dim = spark.createDataFrame(
            [("m1", "kitchen"), ("m2", "bedroom")], "meter string, room string"
        )
        stream = spark.readStream.schema(SCHEMA).parquet(src)
        enriched = stream.join(F.broadcast(dim), "meter")
        out = run_stream_append(spark, enriched, "ssjoin").collect()
        assert len(out) == 5
        rooms = {r.meter: r.room for r in out}
        assert rooms == {"m1": "kitchen", "m2": "bedroom"}


class TestStreamStreamJoin:
    def test_watermarked_interval_join_matches_batch(self, spark, tmp_path):
        """Stream-stream inner join with an event-time range bound:
        results equal the batch join twin on the same data, and only
        clicks within the attribution window pair up."""
        from tomasz_weight_tracker_spark.streaming import stream_stream_join

        imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
        base = dt.datetime.fromisoformat("2024-06-01 10:00:00")
        imp_schema = "meter string, ts timestamp, value double"
        clk_schema = "meter string, cts timestamp, action string"
        impressions = [
            ("m1", base, 1.0),
            ("m2", base + dt.timedelta(minutes=5), 1.0),
        ]
        clicks = [
            ("m1", base + dt.timedelta(minutes=3), "click"),      # within 15m
            ("m1", base + dt.timedelta(minutes=40), "late"),      # outside
            ("m2", base + dt.timedelta(minutes=4), "early"),      # BEFORE imp
            ("m2", base + dt.timedelta(minutes=10), "click"),     # within
        ]
        spark.createDataFrame(impressions, imp_schema).coalesce(1).write.parquet(imp_dir)
        spark.createDataFrame(clicks, clk_schema).coalesce(1).write.parquet(clk_dir)

        li = spark.readStream.schema(imp_schema).parquet(imp_dir)
        ri = spark.readStream.schema(clk_schema).parquet(clk_dir)
        joined = stream_stream_join(li, ri, key="meter", right_ts="cts").select(
            "l.meter", "l.ts", "r.cts", "r.action"
        )
        got = {(r.meter, r.action) for r in run_stream_append(spark, joined, "ssj2").collect()}
        assert got == {("m1", "click"), ("m2", "click")}

        # Batch twin: identical join condition on static frames.
        bl = spark.read.parquet(imp_dir).alias("l")
        br = spark.read.parquet(clk_dir).alias("r")
        cond = (
            (F.col("l.meter") == F.col("r.meter"))
            & (F.col("r.cts") >= F.col("l.ts"))
            & (F.col("r.cts") <= F.col("l.ts") + F.expr("INTERVAL 15 minutes"))
        )
        batch = {(r.meter, r.action) for r in bl.join(br, cond).select("l.meter", "r.action").collect()}
        assert got == batch


class TestStreamUpsert:
    def test_incremental_merge_across_restarts(self, spark, tmp_path):
        """foreachBatch upsert: first run seeds the table, a second run
        (same checkpoint) applies only the NEW files as updates/inserts,
        and re-running with no new input changes nothing."""
        from tomasz_weight_tracker_spark.streaming import stream_upsert

        src = str(tmp_path / "src")
        table = str(tmp_path / "table")
        ckpt = str(tmp_path / "ckpt")
        schema = "id long, v string, ts timestamp"
        base = dt.datetime.fromisoformat("2024-06-01 10:00:00")

        spark.createDataFrame(
            [(1, "a", base), (2, "b", base)], schema
        ).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        stream_upsert(stream, table, keys=["id"], checkpoint=ckpt).start().awaitTermination(120)
        assert {(r.id, r.v) for r in spark.read.parquet(table).collect()} == {(1, "a"), (2, "b")}

        # New file: id 2 updated, id 3 inserted.
        spark.createDataFrame(
            [(2, "B", base + dt.timedelta(minutes=1)), (3, "c", base)], schema
        ).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        stream_upsert(stream, table, keys=["id"], checkpoint=ckpt).start().awaitTermination(120)
        expect = {(1, "a"), (2, "B"), (3, "c")}
        assert {(r.id, r.v) for r in spark.read.parquet(table).collect()} == expect

        # No new input -> no-op.
        stream = spark.readStream.schema(schema).parquet(src)
        stream_upsert(stream, table, keys=["id"], checkpoint=ckpt).start().awaitTermination(120)
        assert {(r.id, r.v) for r in spark.read.parquet(table).collect()} == expect


class TestDedupStateRecovery:
    def test_keys_survive_restart(self, spark, tmp_path):
        # Dedup state must be durable: keys seen before a restart are
        # still deduplicated after it (checkpoint = the key store).
        import pyspark.sql.functions as F

        src, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
        emitted = []

        def sink(batch_df, _bid):
            emitted.extend((r.k,) for r in batch_df.collect())

        def run_once():
            stream = spark.readStream.schema("k long, ts timestamp").parquet(src)
            q = (
                stream.withWatermark("ts", "1 hour")
                .dropDuplicates(["k"])
                .select("k")
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        t = "2024-01-01 00:00:00"
        spark.createDataFrame([(1, t), (2, t)], "k long, ts_s string").select(
            "k", F.col("ts_s").cast("timestamp").alias("ts")
        ).write.mode("append").parquet(src)
        run_once()
        assert sorted(k for (k,) in emitted) == [1, 2]

        # Restart with overlapping keys: only the genuinely new one emits.
        spark.createDataFrame([(2, t), (3, t)], "k long, ts_s string").select(
            "k", F.col("ts_s").cast("timestamp").alias("ts")
        ).write.mode("append").parquet(src)
        run_once()
        assert sorted(k for (k,) in emitted) == [1, 2, 3]


class TestTransformWithState:
    def test_tws_gate_query_registration_needs_explicit_opt_in(self):
        """streaming_tws_counts joins the oracle catalog only under the
        explicit SPARK_GRAFT_ENABLE_TWS=1 opt-in AND an importable
        protobuf runtime (pyproject [streaming-tws] extra).  Keying on
        import availability alone made the catalog size environment-
        dependent — installing the extra silently changed the gate from
        170 to 171 queries (round-5 advice); with the flag unset the
        catalog is stable everywhere."""
        import os
        from importlib.util import find_spec

        from tomasz_weight_tracker_spark.plans import REGISTRY

        enabled = (
            os.environ.get("SPARK_GRAFT_ENABLE_TWS") == "1"
            and find_spec("google") is not None
            and find_spec("google.protobuf") is not None
        )
        assert ("streaming_tws_counts" in REGISTRY) == enabled


    def test_tws_user_stats_matches_batch(self, spark, sf_path):
        """transformWithStateInPandas replay == batch GROUP BY.  Skipped
        where the API's protobuf dependency is absent (this container's
        google.protobuf is broken); the processor/plumbing is still
        imported and constructed so regressions in the non-server parts
        surface everywhere."""
        import pytest as _pytest

        from tomasz_weight_tracker_spark.streaming.pipelines import (
            drain_to_memory,
            stream_events,
            tws_user_stats,
        )

        sf_small = sf_path("sf0.001")
        try:
            from google.protobuf import descriptor  # noqa: F401
        except ImportError:
            # Construction exercises the API surface even without a run.
            df = stream_events(spark, sf_small).select(
                "user_id", "ts", F.floor(F.col("value") * 1e6).alias("qv")
            ).withWatermark("ts", "1 hour")
            assert tws_user_stats(df).isStreaming
            _pytest.skip("protobuf unavailable: transformWithState server cannot start")
        prior = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        try:
            df = stream_events(spark, sf_small)
            q = (
                df.filter(F.col("value").isNotNull())
                .select("user_id", "ts", F.floor(F.col("value") * 1e6).alias("qv"))
                .withWatermark("ts", "1 hour")
            )
            table = drain_to_memory(spark, tws_user_stats(q), "stws", "update")
            got = {
                r.user_id: (r.n_events, r.max_qv)
                for r in table.groupBy("user_id")
                .agg(F.max("n_events").alias("n_events"), F.max("max_qv").alias("max_qv"))
                .collect()
            }
            from tomasz_weight_tracker_spark.plans.catalog import load

            want = {
                r.user_id: (r.n, r.mx)
                for r in load(spark, sf_small, "events")
                .filter(F.col("value").isNotNull())
                .groupBy("user_id")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.max(F.floor(F.col("value") * 1e6)).alias("mx"),
                )
                .collect()
            }
            assert got == want
        finally:
            if prior is None:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
            else:
                spark.conf.set("spark.sql.streaming.stateStore.providerClass", prior)


class TestMultiBatchReplay:
    """The gate replays are single-file (one micro-batch), so state
    merge across batches never fires there.  This replays a 4-file
    split of the events table with maxFilesPerTrigger=1 — four real
    micro-batches through the SAME operators — and checks the drained
    results still equal the batch semantics the oracles encode."""

    def _split_events(self, spark, sf_path, tmp_path, n_files=4):
        from tomasz_weight_tracker_spark.plans.catalog import load

        ev = load(spark, sf_path("sf0.001"), "events")
        out = str(tmp_path / "evsplit")
        # Time-ordered files so watermarks advance monotonically
        # between batches (the realistic replay of an append log).
        from pyspark.sql import Window

        ev.withColumn(
            "__f", F.ntile(n_files).over(Window.orderBy("ts", "event_id"))
        ).repartition(1).sortWithinPartitions("ts").write.partitionBy(
            "__f"
        ).parquet(out)
        return ev, out

    def test_stateful_counts_across_batches(self, spark, tmp_path, sf_path):
        from tomasz_weight_tracker_spark.streaming.pipelines import drain_to_memory

        ev, out = self._split_events(spark, sf_path, tmp_path)
        schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(out)
        )

        def update(key, pdfs, state):
            import pandas as pd

            (n,) = state.get if state.exists else (0,)
            for pdf in pdfs:
                n += len(pdf)
            state.update((n,))
            yield pd.DataFrame([{"user_id": key[0], "n_events": n}])

        counted = (
            stream.withWatermark("ts", "10 hours")
            .groupBy("user_id")
            .applyInPandasWithState(
                update,
                outputStructType="user_id long, n_events long",
                stateStructType="n long",
                outputMode="update",
                timeoutConf="NoTimeout",
            )
        )
        table = drain_to_memory(spark, counted, "mb_counts", "update")
        # Update mode emits one row per touched key per BATCH — the
        # multi-batch case the keep-last max-agg exists for.
        emitted = table.groupBy("user_id").count()
        assert emitted.filter("count > 1").count() > 0, (
            "expected multiple micro-batches to emit repeated keys; "
            "the split produced a single batch"
        )
        got = {
            r.user_id: r.n_events
            for r in table.groupBy("user_id")
            .agg(F.max("n_events").alias("n_events"))
            .collect()
        }
        want = {
            r.user_id: r.n
            for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert got == want

    def test_streaming_dedup_across_batches(self, spark, tmp_path, sf_path):
        from tomasz_weight_tracker_spark.streaming.pipelines import drain_to_memory

        ev, out = self._split_events(spark, sf_path, tmp_path)
        schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(out)
        )
        deduped = (
            stream.withWatermark("ts", "10 hours")
            .dropDuplicates(["user_id", "event_type"])
            .select("user_id", "event_type")
        )
        table = drain_to_memory(spark, deduped, "mb_dedup", "append")
        got = {(r.user_id, r.event_type) for r in table.collect()}
        want = {
            (r.user_id, r.event_type)
            for r in ev.select("user_id", "event_type").distinct().collect()
        }
        # Dedup state carried across batches: a key seen in batch 1
        # must NOT re-emit in batch 3, and nothing may be lost.
        assert got == want
        assert table.count() == len(want)
