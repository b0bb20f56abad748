"""Time/date operators (SURVEY.md §2.8 T1-T10, §2.4 A5).

These replace the reference's hand-rolled implementations with native
Spark expressions:

- BST->UTC: ``to_utc_timestamp(ts, 'Europe/London')`` replaces the
  23-31 line last-Sunday-of-March/October rule at
  utils/pandas_electricity.py:20-42 and
  utils/duckdb_electricity_1-minute.py:25-55.
- Interval -> 1-minute grid: ``explode(sequence(...))`` replaces the
  interpreted row loops at utils/pandas_electricity.py:69-122 and the
  UNNEST(generate_series(...)) at utils/duckdb_electricity_1-minute.py:79-91.
  Codegen'd, distributed, and AQE handles the ~1440x row amplification.
- End-labeled 15-minute buckets: epoch arithmetic replaces the three
  divergent bucket formulas (utils/pandas_electricity.py:135-141,
  utils/duckdb_electricity_1-minute.py:149-158,
  utils/15-minute-duckdb_electricity.py:125).

Scale note: every windowed operator here takes a ``series_keys``
partition spec.  The reference has exactly one meter so its ORDER BY
is global (utils/duckdb_electricity_1-minute.py:65-67 is the degenerate
case); at 100 TB the window must partition by meter/sensor id, which
these APIs require by default.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def combine_date_time(date_col: Column, time_col: Column, fmt: str = "dd/MM/yyyy HH:mm:ss") -> Column:
    """T1: combine string date + time-of-day into one timestamp
    (utils/pandas_electricity.py:46-47)."""
    return F.to_timestamp(F.concat_ws(" ", date_col, time_col), fmt)


def local_to_utc(ts: Column, tz: str = "Europe/London") -> Column:
    """T2: DST-aware local->UTC (replaces the hand-rolled BST rule)."""
    return F.to_utc_timestamp(ts, tz)


def lead_next(df: DataFrame, order_col: str, series_keys: Sequence[str], cols: Sequence[str]) -> DataFrame:
    """W1: attach ``next_<col>`` for each requested column via LEAD over
    the series order (utils/duckdb_electricity_1-minute.py:60-69).
    """
    # bounded-frame: keyless fallback = single-series input (documented degenerate; pass series_keys at scale)
    w = Window.partitionBy(*series_keys).orderBy(order_col) if series_keys else Window.orderBy(order_col)
    for c in cols:
        df = df.withColumn(f"next_{c}", F.lead(c).over(w))
    return df


def explode_minute_grid(
    df: DataFrame,
    start_col: str,
    end_col: str,
    out_col: str = "minute_ts",
    max_minutes: int | None = None,
) -> DataFrame:
    """T4: one output row per minute in ``(start, end]``.

    Matches the reference's half-open-at-start grid
    (utils/duckdb_electricity_1-minute.py:79-91:
    ``generate_series(t + 1min, t_next, 1min)``).  ``max_minutes``
    optionally caps pathological gaps (sensor outages) so a single
    interval cannot amplify unboundedly — at scale a 3-week outage in
    one meter would otherwise produce a 30k-row hot key.
    """
    start = F.col(start_col)
    end = F.col(end_col)
    if max_minutes is not None:
        end = F.least(end, start + F.expr(f"INTERVAL {max_minutes} MINUTES"))
    seq = F.sequence(
        start + F.expr("INTERVAL 1 MINUTE"),
        end,
        F.expr("INTERVAL 1 MINUTE"),
    )
    # Spark's sequence() errors on start > stop with a positive step, so
    # intervals shorter than one minute (which contribute no grid rows)
    # are filtered out rather than exploded to empty.
    return (
        df.filter(F.col(end_col).isNotNull())
        .filter(end >= start + F.expr("INTERVAL 1 MINUTE"))
        .withColumn(out_col, F.explode(seq))
    )


def minute_of_day(ts: Column) -> Column:
    return F.hour(ts) * 60 + F.minute(ts)


def peak_category(ts: Column, peak_start_min: int = 390, peak_end_min: int = 1410) -> Column:
    """T5: 'P' iff time-of-day in (06:30, 23:30], else 'OP'
    (utils/duckdb_electricity_1-minute.py:97-107)."""
    m = minute_of_day(ts)
    return F.when((m > peak_start_min) & (m <= peak_end_min), F.lit("P")).otherwise(F.lit("OP"))


def bucket_end_labeled(ts: Column, minutes: int = 15) -> Column:
    """T7: end-labeled bucket — floor(ts - 1 minute) to the bucket width.

    A minute stamped 10:15:00 belongs to the (10:00, 10:15] bucket
    labeled 10:00 start / reference's TIME_BUCKET(15min, t - 1min)
    (utils/15-minute-duckdb_electricity.py:125).
    """
    secs = minutes * 60
    shifted = F.unix_timestamp(ts - F.expr("INTERVAL 1 MINUTE"))
    return F.timestamp_seconds(F.floor(shifted / secs) * secs)


# ---------------------------------------------------------------------------
# A5: anchored resample (pandas .resample("W-Fri"/"ME").mean(), reference
# utils/20251223-weight-for-streamlit.py:327-345).

_DOW = ["MON", "TUE", "WED", "THU", "FRI", "SAT", "SUN"]


def week_anchor_offset(anchor_dow: str) -> str:
    """startTime offset for F.window(ts, '7 days') so windows END on the
    anchored day (pandas 'W-FRI' = weeks ending Friday, window covers
    (Sat, Fri]).  Spark's 7-day tumbling windows start at the epoch
    origin 1970-01-01 (a Thursday); a week ending Friday 23:59:59.999...
    starts on Saturday, which is epoch + 2 days.
    """
    idx = _DOW.index(anchor_dow.upper()[:3])
    # Day-of-week of 1970-01-01 is Thursday (index 3).  Window must start
    # the day after the anchor.
    start_idx = (idx + 1) % 7
    offset_days = (start_idx - 3) % 7
    return f"{offset_days * 24} hours"


def resample_weekly_mean(
    df: DataFrame,
    ts_col: str,
    value_cols: Sequence[str],
    anchor_dow: str = "SUN",
    round_digits: int = 1,
) -> DataFrame:
    """Weekly anchored mean: pandas .resample('W-<anchor>').mean().round(1).

    Labels the period by the window's END date minus 1 day (pandas labels
    anchored weekly periods by the anchor day, which is the last day
    inside the window).
    """
    win = F.window(F.col(ts_col), "7 days", startTime=week_anchor_offset(anchor_dow))
    aggs = [F.round(F.avg(c), round_digits).alias(c) for c in value_cols]
    return (
        df.groupBy(win.alias("w"))
        .agg(*aggs)
        .withColumn("period", F.to_date(F.col("w.end") - F.expr("INTERVAL 1 DAY")))
        .drop("w")
    )


def resample_monthly_mean(
    df: DataFrame, ts_col: str, value_cols: Sequence[str], round_digits: int = 1
) -> DataFrame:
    """Month-end mean: pandas .resample('ME').mean().round(1)."""
    aggs = [F.round(F.avg(c), round_digits).alias(c) for c in value_cols]
    return (
        df.groupBy(F.date_trunc("month", F.col(ts_col)).alias("m"))
        .agg(*aggs)
        .withColumn("period", F.to_date(F.last_day(F.col("m"))))
        .drop("m")
    )
