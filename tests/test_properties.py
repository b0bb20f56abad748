"""Property-based tests (SURVEY §5.2): random cumulative meter series
and random overlapping sensor exports, checked against the pipelines'
conservation / no-data-loss invariants.  Example counts are kept small
because each example spins Spark jobs."""

from __future__ import annotations

import datetime as dt
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tomasz_weight_tracker_spark.pipelines.electricity import fifteen_minute_usage
from tomasz_weight_tracker_spark.pipelines.sensors import merge_sensor_frames

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

_spark = None


def get_session():
    global _spark
    if _spark is None:
        from tomasz_weight_tracker_spark.session import get_spark

        _spark = get_spark("props", master="local[4]", shuffle_partitions=4)
    return _spark


meter_series = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5_000),  # minute offsets
        st.integers(min_value=0, max_value=30),  # P increments
        st.integers(min_value=0, max_value=30),  # OP increments
    ),
    min_size=2,
    max_size=12,
)


@SLOW
@given(meter_series)
def test_minutes_and_conservation(series):
    """For ANY increasing cumulative series: (1) total Minutes equals
    the whole-minute span of consecutive-reading gaps; (2) allocated
    usage never exceeds the meter delta, and equals it when every
    interval has minutes of both categories."""
    spark = get_session()
    t0 = dt.datetime(2024, 6, 1, 0, 0)
    offsets = sorted(set(o for o, _, _ in series))
    if len(offsets) < 2:
        return
    rows, p, op = [], 100, 200
    for (o, dp, dop) in zip(offsets, *zip(*[(s[1], s[2]) for s in series])):
        rows.append((t0 + dt.timedelta(minutes=o), p, op))
        p, op = p + dp, op + dop
    readings = spark.createDataFrame(rows, "LocalDateTime timestamp, P bigint, OP bigint")
    usage = fifteen_minute_usage(readings, tz=None)
    agg = usage.agg(
        F.sum("Minutes").alias("mins"),
        F.sum("P_Usage").alias("p"),
        F.sum("OP_Usage").alias("op"),
    ).first()
    span = sum(b - a for a, b in zip(offsets, offsets[1:]))
    assert agg.mins == span if span > 0 else agg.mins is None
    total_dp = sum(s[1] for s in series[: len(offsets) - 1])
    # Allocation never invents usage:
    if agg.p is not None:
        assert agg.p <= (rows[-1][1] - rows[0][1]) + 1e-6
    if agg.op is not None:
        assert agg.op <= (rows[-1][2] - rows[0][2]) + 1e-6


sensor_files_strategy = st.lists(
    st.dictionaries(
        keys=st.integers(min_value=0, max_value=20),  # minute offset
        values=st.floats(min_value=-50, max_value=50, allow_nan=False, width=32),
        min_size=1,
        max_size=8,
    ),
    min_size=1,
    max_size=4,
)


@SLOW
@given(sensor_files_strategy)
def test_merge_never_loses_nonnull_cells(files):
    """For ANY sequence of overlapping exports: every (ts, value) cell
    survives the fold — as the kept value or in a conflict column."""
    spark = get_session()
    t0 = dt.datetime(2025, 1, 1, 0, 0)
    frames = [
        spark.createDataFrame(
            [(t0 + dt.timedelta(minutes=o), float(v)) for o, v in f.items()],
            "Timestamp timestamp, temp double",
        )
        for f in files
    ]
    merged = {r.Timestamp: r for r in merge_sensor_frames(frames).collect()}
    cols = merge_sensor_frames(frames).columns
    value_cols = [c for c in cols if c != "Timestamp"]
    for f in files:
        for o, v in f.items():
            ts = t0 + dt.timedelta(minutes=o)
            row = merged[ts]
            assert any(
                row[c] is not None and math.isclose(row[c], float(v), rel_tol=1e-5, abs_tol=1e-9)
                for c in value_cols
            ), f"cell ({ts}, {v}) lost"


# Two-measure exports where values repeat (integers cast to float) so
# genuine conflicts, tolerant-equal overlaps, fills, new columns, and
# all-null prunes all occur across examples.
merge_equiv_strategy = st.lists(
    st.dictionaries(
        keys=st.integers(min_value=0, max_value=6),  # minute offset
        values=st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
            st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
        ),
        min_size=1,
        max_size=5,
    ),
    min_size=2,
    max_size=4,
)


@SLOW
@given(merge_equiv_strategy)
def test_merge_collapse_equals_stepwise_fold(files):
    """Round-7 fold-order property: the single-pass algebraic collapse
    (merge_sensor_frames) must produce EXACTLY the step-wise
    left-to-right fold of merge_step — same columns (including which
    '!X! c' conflict columns materialize and their tag order), same
    rows — for any sequence of overlapping two-measure exports."""
    from tomasz_weight_tracker_spark.pipelines.sensors import (
        drop_all_null_columns,
        merge_step,
        order_columns,
    )

    spark = get_session()
    t0 = dt.datetime(2025, 1, 1, 0, 0)
    frames = [
        spark.createDataFrame(
            [
                (
                    t0 + dt.timedelta(minutes=o),
                    None if a is None else float(a),
                    None if b is None else float(b),
                )
                for o, (a, b) in f.items()
            ],
            "Timestamp timestamp, temp double, hum double",
        )
        for f in files
    ]
    # The step-wise specification, exactly as round-6 shipped it.
    combined, idx = frames[0], 0
    for nxt in frames[1:]:
        combined, idx = merge_step(combined, nxt, idx)
    spec = order_columns(drop_all_null_columns(combined)).orderBy("Timestamp")
    got = merge_sensor_frames(frames)
    assert got.columns == spec.columns
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in spec.collect()]


# ---------------------------------------------------------------------------
# Codec round-trip properties (pure python — no Spark session needed).


@given(
    w=st.integers(min_value=1, max_value=25),
    h=st.integers(min_value=1, max_value=12),
    ncol=st.integers(min_value=2, max_value=256),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_gif_lzw_round_trip(w, h, ncol, seed):
    """make_gif (real LZW compress) -> parse_gif (LZW inflate +
    palette) reconstructs every pixel for any geometry / palette size
    — including >15-color palettes that force code-width growth and
    the KwKwK self-referential case on repeated runs."""
    import random as _r

    from tomasz_weight_tracker_spark.operators.codecs import make_gif, parse_gif

    rng = _r.Random(seed)
    pal = [
        (rng.randrange(256), rng.randrange(256), rng.randrange(256))
        for _ in range(ncol)
    ]
    grid = [[rng.randrange(ncol) for _ in range(w)] for _ in range(h)]
    out = parse_gif(make_gif(w, h, lambda x, y: grid[y][x], pal))
    assert (out["width"], out["height"]) == (w, h)
    assert out["pixels"] == [
        (pal[grid[y][x]][2], pal[grid[y][x]][1], pal[grid[y][x]][0])
        for y in range(h)
        for x in range(w)
    ]


@given(
    w=st.integers(min_value=1, max_value=17),
    h=st.integers(min_value=1, max_value=9),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_bmp_serialize_parse_round_trip(w, h, seed):
    from tomasz_weight_tracker_spark.operators.codecs import make_bmp, parse_bmp

    def px(x, y):
        v = (x * 31 + y * 17 + seed) % 256
        return (v, (v * 3) % 256, (v * 7) % 256)

    raw = make_bmp(w, h, px)
    out = parse_bmp(raw)
    assert out is not None and (out["width"], out["height"]) == (w, h)
    # Pixel walk returns exactly what was serialized, in top-down order.
    expect = [px(x, y) for y in range(h) for x in range(w)]
    assert out["pixels"] == expect


@given(
    n=st.integers(min_value=1, max_value=4000),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_wav_serialize_parse_round_trip(make_wav, n, rate, seed):
    from tomasz_weight_tracker_spark.operators.codecs import parse_wav

    samples = [((i * 2654435761 + seed) % 65536) - 32768 for i in range(n)]
    raw = make_wav(samples, sample_rate=rate)
    out = parse_wav(raw)
    assert out is not None
    assert out["samples"] == samples
    assert out["n_frames"] == n
    assert out["duration_ms"] == n * 1000 // rate


@given(data=st.binary(min_size=0, max_size=200))
@settings(max_examples=60, deadline=None)
def test_parsers_never_raise_on_garbage(data):
    from tomasz_weight_tracker_spark.operators.codecs import parse_bmp, parse_wav

    # Corrupt blobs are data, not exceptions: any outcome but a raise.
    parse_bmp(data)
    parse_wav(data)
    parse_bmp(b"BM" + data)
    parse_wav(b"RIFF" + data)


# ---------------------------------------------------------------------------
# Round-3 operator properties: sketch invariants and Z-order bijectivity.


class TestSketchProperties:
    @SLOW
    @given(
        st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=300),
        st.integers(min_value=2, max_value=7),
    )
    def test_hll_is_a_function_of_the_value_set(self, values, n_parts):
        # Duplicates and partitioning must not change the estimate:
        # the sketch sees the distinct-value set, nothing else.
        from tomasz_weight_tracker_spark.operators.sketches import hll_distinct

        spark = get_session()
        base = [(int(v),) for v in values]
        a = spark.createDataFrame(base, "v long").withColumn("g", F.lit("g"))
        b = (
            spark.createDataFrame(base + base, "v long")  # doubled multiset
            .withColumn("g", F.lit("g"))
            .repartition(n_parts)
        )
        ea = hll_distinct(a, ["g"], "v").first().hll_distinct
        eb = hll_distinct(b, ["g"], "v").first().hll_distinct
        assert ea == eb

    @SLOW
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=65535),
                st.integers(min_value=0, max_value=65535),
            ),
            min_size=1,
            max_size=200,
            unique=True,
        )
    )
    def test_zorder_key_is_injective(self, pairs):
        # Distinct (a, b) pairs must map to distinct keys — the
        # interleave is a bijection on 16-bit coordinates, so range
        # pruning can't conflate two different points.
        from tomasz_weight_tracker_spark.operators.layout import zorder_key

        spark = get_session()
        df = spark.createDataFrame(list(pairs), "a long, b long")
        keys = [r.z for r in df.select(zorder_key(F.col("a"), F.col("b")).alias("z")).collect()]
        assert len(set(keys)) == len(pairs)

    @SLOW
    @given(st.integers(min_value=0, max_value=9999), st.integers(min_value=1, max_value=9999))
    def test_stratified_threshold_monotone(self, lo, delta):
        # A higher rate can only ADD rows, never swap them — the
        # property that makes deterministic samples comparable across
        # pipeline versions.
        from tomasz_weight_tracker_spark.operators.sketches import SCALE, stratified_sample

        spark = get_session()
        hi = min(lo + delta, SCALE)
        df = spark.createDataFrame([(i, "s") for i in range(500)], "k long, s string")
        small = {r.k for r in stratified_sample(df, "s", {"s": lo / SCALE}, "k").collect()}
        big = {r.k for r in stratified_sample(df, "s", {"s": hi / SCALE}, "k").collect()}
        assert small <= big


# --- round-4 operator invariants ------------------------------------------

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # user_id
        st.integers(min_value=0, max_value=600),  # minute offset
        st.sampled_from(["a", "b", "c"]),  # event_type/state
    ),
    min_size=1,
    max_size=25,
)


def _events_df(rows):
    spark = get_session()
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    data = [
        (i, u, base + dt.timedelta(minutes=m), t, 0.0, "")
        for i, (u, m, t) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data,
        "event_id long, user_id long, ts timestamp, event_type string, "
        "value double, props string",
    )


@SLOW
@given(events_strategy)
def test_scd2_reconstructs_pointwise_state(rows):
    """For ANY event stream: the SCD2 intervals tile each user's
    timeline (no gaps between versions, exactly one current row), and
    querying the history at any event's timestamp returns that event's
    state (point-in-time correctness — the property a feature store
    needs)."""
    import tempfile

    from tomasz_weight_tracker_spark.plans.time_series import q_scd2_user_state

    df = _events_df(rows)
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(d + "/events.parquet")
        hist = q_scd2_user_state(get_session(), d).collect()
    by_user = {}
    for r in hist:
        by_user.setdefault(r.user_id, []).append(r)
    # Deterministic last state per user (max ts, tiebreak event_id).
    last_state = {}
    for i, (u, m, t) in enumerate(rows):
        key = (m, i)
        if u not in last_state or key > last_state[u][0]:
            last_state[u] = (key, t)
    for u, versions in by_user.items():
        versions.sort(key=lambda r: r.version)
        assert sum(v.is_current for v in versions) == 1
        for a, b in zip(versions, versions[1:]):
            assert a.valid_to == b.valid_from  # tiling, no gaps
        assert versions[-1].state == last_state[u][1]


@SLOW
@given(events_strategy)
def test_interval_union_bounds(rows):
    """Covered time per user is bounded below by one interval and above
    by n_events * interval (equality iff no overlaps), and island count
    never exceeds event count."""
    import tempfile

    from tomasz_weight_tracker_spark.plans.time_series import _COVER_MIN, q_interval_union_time

    df = _events_df(rows)
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(d + "/events.parquet")
        out = q_interval_union_time(get_session(), d).collect()
    per_user_events = {}
    for u, _m, _t in rows:
        per_user_events[u] = per_user_events.get(u, 0) + 1
    assert set(per_user_events) == {r.user_id for r in out}
    for r in out:
        n = per_user_events[r.user_id]
        assert 1 <= r.n_islands <= n
        assert _COVER_MIN <= r.covered_minutes <= n * _COVER_MIN


@SLOW
@given(events_strategy)
def test_throttle_keeps_first_and_gaps(rows):
    """Throttle output always keeps each (user, type)'s first event,
    and consecutive KEPT events of a key are separated by >= the raw
    gap rule applied to the raw stream (replaying the rule on the
    kept subset can only widen gaps)."""
    import tempfile

    from tomasz_weight_tracker_spark.plans.time_series import q_dedup_throttle

    df = _events_df(rows)
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(d + "/events.parquet")
        kept = q_dedup_throttle(get_session(), d).collect()
    kept_ids = {r.event_id for r in kept}
    firsts = {}
    for i, (u, m, t) in enumerate(rows):
        key = (u, t)
        if key not in firsts or (m, i) < firsts[key][0]:
            firsts[key] = ((m, i), i)
    for (_u, _t), (_k, eid) in firsts.items():
        assert eid in kept_ids
