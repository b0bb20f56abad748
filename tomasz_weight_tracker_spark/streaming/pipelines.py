"""Streaming twins of the batch operators (SURVEY.md §2.9).

The reference has no true streaming — its one incremental pattern is
the processed-file-id sync (ST1).  Per the north star these are the
idiomatic Structured Streaming counterparts, designed watermark-first:

- ST1 -> file-source stream + checkpoint (exactly-once per file);
- A1/T7 -> tumbling end-labeled 15-minute windowed aggregation with
  late-data tolerance via watermark;
- A6 -> ``dropDuplicatesWithinWatermark``;
- sessionize (catalog twin) -> ``session_window`` with gap timeout.

Scale posture: streaming state is keyed by (series, window); the state
store shards by the grouping key across executors, so a 1000-executor
cluster holds each meter's running window locally.  Watermarks bound
state size — without them the 15-minute windows would accumulate
forever at 100 TB/day rates.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.time_ops import peak_category


def stream_fifteen_minute_usage(events: DataFrame, series_keys: Sequence[str] = ()) -> DataFrame:
    """Streaming A1 + T5 + T7: per-minute ``ts``/``value`` usage events ->
    end-labeled 15-minute buckets with P/OP split, tolerant of one hour
    of lateness.

    End-labeling parity with the batch operator: batch buckets minute m
    into the window ``(start, start+15]`` labeled ``start``
    (bucket_end_labeled); the streaming twin shifts the event time by
    -1 minute so Spark's standard ``[start, start+15)`` tumbling window
    produces identical labels.
    """
    shifted = F.col("ts") - F.expr("INTERVAL 1 MINUTE")
    df = (
        events.withWatermark("ts", "1 hour")
        .withColumn("__bucket_ts", shifted)
        .withColumn("__cat", peak_category(F.col("ts")))
    )
    win = F.window(F.col("__bucket_ts"), "15 minutes")
    return (
        df.groupBy(*series_keys, win.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("Minutes"),
            F.sum(F.when(F.col("__cat") == "P", F.col("value"))).alias("P_Usage"),
            F.sum(F.when(F.col("__cat") == "OP", F.col("value"))).alias("OP_Usage"),
        )
        .withColumn("Bucket", F.col("w.start"))
        .drop("w")
    )


def stream_dedup_keep_first(events: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Streaming A6: drop duplicate keys arriving within a one-hour
    watermark on ``ts``.  (Streams keep the FIRST arrival — the batch
    fold's keep-last is a retrospective choice; a stream cannot retract
    an emitted row.)"""
    return events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark([*keys])


def stream_sessionize(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch lag-gap sessionize: session_window
    merges a user's events closer than 30 minutes on ``ts`` into one
    session (one-hour watermark)."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window(F.col("ts"), "30 minutes").alias("s"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
        )
    )


def incremental_file_sync(
    spark: SparkSession,
    input_glob: str,
    checkpoint_dir: str,
    output_dir: str,
    schema: str,
) -> "StreamingQuery":
    """ST1 as a real stream: the parquet file source discovers new files,
    the checkpoint IS the processed-file-id state (replacing the
    reference's hand-rolled cached-id anti-join,
    utils/20251223-weight-for-streamlit.py:135-189), and availableNow
    drains everything pending then stops — i.e., an incremental batch
    run with exactly-once file processing.
    """
    return (
        spark.readStream.schema(schema).parquet(input_glob)
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


RUNNING_STATS_SCHEMA = "meter string, n bigint, total double, mean double"
_STATS_STATE_SCHEMA = "n bigint, total double"


def stream_running_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-meter
    running (count, sum, mean) of ``value`` maintained across
    micro-batches (one-hour watermark on ``ts``) in the
    state store — the arbitrary-state API the built-in windowed aggs
    can't express (e.g. for CUSUM / drift detectors over sensor feeds).

    State is one (n, total) pair per key: O(keys) state, no growth with
    stream length.  The checkpoint makes it exactly-once across
    restarts (tested by driving two availableNow runs over one
    checkpoint).
    """

    def update(key, pdfs, state):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)  # .get is a property
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            [{"meter": key[0], "n": n, "total": total, "mean": total / n if n else None}]
        )

    return (
        events.withWatermark("ts", "1 hour")
        .groupBy("meter")
        .applyInPandasWithState(
            update,
            outputStructType=RUNNING_STATS_SCHEMA,
            stateStructType=_STATS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf="NoTimeout",
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    right_ts: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked stream-stream inner join: pair each left event with
    right events sharing ``key`` whose timestamp falls in
    ``[ts, ts + 15 minutes]`` of the left side's ``ts`` (the
    impressions-to-clicks attribution shape).

    Both sides carry watermarks AND the join condition bounds the
    event-time range, so Spark can evict buffered state once the
    watermark passes ``ts + 15 minutes`` — state per key is bounded by
    rate x interval, never by stream length.  Without the range bound
    the state store would grow forever; this is the property that
    makes the operator viable on an unbounded 100 TB/day stream.

    Caller renames non-key columns to avoid collisions (the two ts
    columns must be distinct names if both are selected downstream).
    """
    lhs = left.withWatermark("ts", watermark).alias("l")
    rhs = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col("l.ts"))
        & (F.col(f"r.{right_ts}") <= F.col("l.ts") + F.expr("INTERVAL 15 minutes"))
    )
    return lhs.join(rhs, cond)


def stream_upsert(
    df: DataFrame,
    path: str,
    keys: Sequence[str],
    checkpoint: str,
    prepare=None,
    order_by: Sequence[str] | None = None,
):
    """foreachBatch MERGE sink: every micro-batch upserts by key into a
    parquet table via :func:`..sources.writers.upsert_by_key` — the
    streaming CDC-apply shape (update-else-insert per batch, exactly
    the reference's store write looped over a stream).

    Returns a configured ``DataStreamWriter`` (caller calls
    ``.start()``).  Restart-safe: the checkpoint tracks consumed input,
    and re-applying an already-applied batch is a no-op because the
    upsert itself is idempotent.  Batches must be unique per key:
    either dedupe upstream with ``stream_dedup_keep_first``, or pass
    ``prepare`` — a BATCH DataFrame -> DataFrame transform applied
    inside foreachBatch, where window functions ARE allowed (a
    streaming DF upstream of foreachBatch cannot host row_number, so
    keep-last-per-key dedup belongs here).

    Without ``order_by``, per-batch keep-last + upsert is LAST-BATCH-
    wins: the result depends on how the source splits files into
    micro-batches (fine for a single availableNow batch; wrong under
    maxFilesPerTrigger if batches can arrive out of event order).
    Pass ``order_by`` (e.g. ``["ts", "event_id"]``) to make the MERGE
    recency-wins — the stored row survives unless the batch row is
    strictly newer — so the final table is identical however the
    input batches (round-5 advice).
    """
    return (
        df.writeStream.foreachBatch(
            make_upsert_batch(path, keys, prepare, order_by)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def make_upsert_batch(
    path: str,
    keys: Sequence[str],
    prepare=None,
    order_by: Sequence[str] | None = None,
):
    """:func:`stream_upsert`'s foreachBatch sink as a module-level
    factory, so the chaos-replay test (tests/test_streaming_replay.py)
    drives the EXACT production sink twice with the same batch id.
    Replay-safe because the MERGE itself is idempotent: re-upserting
    rows that already won produces the identical table."""
    from ..sources.writers import upsert_by_key

    order = list(order_by) if order_by else None

    def apply_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if prepare is not None:
            batch_df = prepare(batch_df)
        upsert_by_key(batch_df.sparkSession, batch_df, path, list(keys), order_by=order)

    return apply_batch


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the gate's events table, value-identical
    to the batch ``plans.catalog.load`` view of it.

    One definition instead of a per-query copy: the schema sniff, the
    ``pathGlobFilter`` narrowing, and the TIMESTAMP(NANOS)-as-bigint
    conversion (ns->us truncation by integer division — the same rule
    ``load`` applies, so stream and batch/oracle see identical values)
    live here.  A change to the events encoding is a one-place edit.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        # A Spark-written TABLE directory (e.g. the soak replica): point
        # the stream at the directory itself — a name glob on the parent
        # would match no part-file and silently stream ZERO batches.
        raw = spark.readStream.schema(schema).parquet(path)
    else:
        raw = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    if dict(raw.dtypes).get("ts") == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def stream_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the gate's documents table (the
    stream_events pattern for text corpora: schema sniff +
    pathGlobFilter narrowing in ONE place; no timestamp conversion —
    documents carry none)."""
    path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(path).schema
    if os.path.isdir(path):
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def await_drain(q, name: str) -> None:
    """Wait up to 300 s for an availableNow query to finish.  On timeout
    stop it and raise, so the caller never reads a partially drained
    sink."""
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError(f"{name} drain timed out")


def drain_residue_batches(
    spark: SparkSession,
    docs: DataFrame,
    root: str,
    batches: int,
    apply_batch,
    name: str,
) -> None:
    """Replay ``docs`` as a stream of ``batches`` micro-batches through
    the foreachBatch sink ``apply_batch`` and wait for it to drain.

    The corpus is laid out one file per doc_id residue under
    ``{root}/src``; an availableNow file source with
    ``maxFilesPerTrigger=1`` turns each file into one micro-batch, with
    its checkpoint at ``{root}/ckpt``.  Timeouts raise (:func:`await_drain`).
    """
    src = f"{root}/src"
    for r in range(batches):
        docs.filter(F.col("doc_id") % batches == r).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    schema = spark.read.parquet(src).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q, name)


def drain_to_memory(
    spark: SparkSession,
    df: DataFrame,
    prefix: str,
    output_mode: str,
    timeout_sec: float = 300,
) -> DataFrame:
    """Run ``df`` as an availableNow stream into a memory sink and
    return the drained table.

    - State-store partitioning is sized via
      :func:`..streaming.tuning.state_partitions` (8 partitions);
      the conf lock is released as soon as the first micro-batch
      commits (the partition count is latched into the checkpoint
      then), so a slow drain does not stall other threads' streams
      for the whole ``timeout_sec``.
    - ``awaitTermination``'s return value is CHECKED: on timeout the
      query is stopped and we raise, instead of returning a silently
      truncated memory table as if it were the result.
    """
    import time as _time
    import uuid

    from .tuning import state_partitions

    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    with state_partitions(spark, 8) as release_early:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        deadline = _time.monotonic() + timeout_sec
        # First-batch barrier: progress appears once batch 0 commits
        # (or the query terminates — e.g. an empty availableNow run).
        while q.isActive and not q.recentProgress:
            if _time.monotonic() > deadline:
                break
            _time.sleep(0.05)
        release_early()
        # Remaining budget only — flooring this at some "reasonable"
        # value would let a fast stream beat an expired deadline and
        # return where the contract says raise.
        finished = q.awaitTermination(max(0.001, deadline - _time.monotonic()))
        if not finished:
            q.stop()
            raise RuntimeError(
                f"streaming drain '{prefix}' did not finish within "
                f"{timeout_sec}s; refusing to return a partial result"
            )
    return spark.table(name)


def tws_user_stats(df: DataFrame) -> DataFrame:
    """Per-user (count, running max) via Spark 4's
    ``transformWithStateInPandas`` — the successor arbitrary-state API
    to ``applyInPandasWithState`` (:func:`stream_running_stats`), with
    typed state handles, timers, and the RocksDB state store.

    ENVIRONMENT GATE: the API's Python-side state server requires the
    ``protobuf`` package; where it is absent (this container ships a
    broken ``google.protobuf``), starting the stream raises
    ``STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE``.  The plumbing
    here — processor, state schema, quantized integer outputs, update
    semantics — is real and tested where the dependency exists
    (``tests/test_streaming.py`` skips otherwise).  Callers must set
    ``spark.sql.streaming.stateStore.providerClass`` to the RocksDB
    provider, which transformWithState requires.

    ``df`` must carry ``user_id``, a watermarked ``ts``, and an
    integer-quantized ``qv`` column (floats stay out of the Python
    state path so replays are hash-exact).  Both state fields are
    monotone, so keep-last-per-key under update-mode replay is a
    max-aggregate over the drained table.
    """
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("stats", "n BIGINT, mx BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            if self._state.exists():
                n, mx = self._state.get()
            else:
                n, mx = 0, None
            for pdf in rows:
                n += len(pdf)
                batch_max = int(pdf["qv"].max())
                mx = batch_max if mx is None else max(mx, batch_max)
            self._state.update((n, mx))
            yield pd.DataFrame(
                [{"user_id": int(key[0]), "n_events": n, "max_qv": mx}]
            )

        def close(self) -> None:
            pass

    return df.groupBy("user_id").transformWithStateInPandas(
        UserStats(),
        outputStructType="user_id long, n_events long, max_qv long",
        outputMode="Update",
        timeMode="None",
    )
