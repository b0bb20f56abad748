"""Unit tests for time operators (SURVEY §5.2: DST transition instants,
interval-grid edges, end-labeled bucket boundaries, peak half-open
classification, anchored resample)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from tomasz_weight_tracker_spark.operators import time_ops as TO


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def one_col(df, col):
    return [r[col] for r in df.orderBy(col).collect()]


class TestLocalToUtc:
    """T2: to_utc_timestamp must reproduce the reference's hand-rolled
    BST rule exactly at the 2024 transition instants
    (utils/pandas_electricity.py:20-42: BST is last-Sunday-of-March
    01:00 <= t < last-Sunday-of-October 02:00, local minus 1h)."""

    CASES = [
        # (local London wall time, expected UTC)
        ("2024-03-31 00:59:00", "2024-03-31 00:59:00"),  # 1 min before spring-forward
        ("2024-03-31 02:00:00", "2024-03-31 01:00:00"),  # first BST instant
        ("2024-07-01 12:00:00", "2024-07-01 11:00:00"),  # mid-summer
        ("2024-10-27 00:59:00", "2024-10-26 23:59:00"),  # still BST
        ("2024-10-27 02:00:00", "2024-10-27 02:00:00"),  # back to GMT
        ("2024-12-25 09:00:00", "2024-12-25 09:00:00"),  # winter
    ]

    def test_transition_instants(self, spark):
        df = spark.createDataFrame(
            [(ts(loc),) for loc, _ in self.CASES], "local timestamp"
        )
        out = df.select(TO.local_to_utc(F.col("local")).alias("utc")).collect()
        got = [r.utc for r in out]
        expected = [ts(u) for _, u in self.CASES]
        assert got == expected


class TestMinuteGrid:
    """T4 edges: sub-minute interval -> zero rows; exact multiple; cap."""

    def _grid(self, spark, start, end, max_minutes=None):
        df = spark.createDataFrame([(ts(start), ts(end))], "t0 timestamp, t1 timestamp")
        return one_col(
            TO.explode_minute_grid(df, "t0", "t1", "m", max_minutes=max_minutes), "m"
        )

    def test_one_minute_interval(self, spark):
        assert self._grid(spark, "2024-01-01 10:00:00", "2024-01-01 10:01:00") == [
            ts("2024-01-01 10:01:00")
        ]

    def test_sub_minute_interval_is_empty(self, spark):
        assert self._grid(spark, "2024-01-01 10:00:00", "2024-01-01 10:00:59") == []

    def test_half_open_start_closed_end(self, spark):
        got = self._grid(spark, "2024-01-01 10:00:00", "2024-01-01 10:03:00")
        assert got == [ts(f"2024-01-01 10:0{m}:00") for m in (1, 2, 3)]

    def test_null_end_dropped(self, spark):
        df = spark.createDataFrame(
            [(ts("2024-01-01 10:00:00"), None)], "t0 timestamp, t1 timestamp"
        )
        assert TO.explode_minute_grid(df, "t0", "t1", "m").count() == 0

    def test_gap_cap(self, spark):
        got = self._grid(
            spark, "2024-01-01 10:00:00", "2024-01-01 12:00:00", max_minutes=5
        )
        assert len(got) == 5
        assert got[-1] == ts("2024-01-01 10:05:00")


class TestPeakCategory:
    """T5: 'P' iff time-of-day in (06:30, 23:30] — the half-open
    boundaries are the reference's most-debugged area (SURVEY §7.4.2)."""

    CASES = [
        ("2024-01-01 06:30:00", "OP"),  # boundary excluded
        ("2024-01-01 06:31:00", "P"),  # first peak minute
        ("2024-01-01 23:30:00", "P"),  # boundary included
        ("2024-01-01 23:31:00", "OP"),  # first off-peak minute
        ("2024-01-01 00:00:00", "OP"),
        ("2024-01-01 12:00:00", "P"),
    ]

    def test_boundaries(self, spark):
        df = spark.createDataFrame([(ts(s),) for s, _ in self.CASES], "t timestamp")
        got = [r.c for r in df.select(TO.peak_category(F.col("t")).alias("c")).collect()]
        assert got == [c for _, c in self.CASES]


class TestBucketEndLabeled:
    """T7: minute m belongs to the 15-min bucket labeled by the bucket's
    START, where the bucket covers (start, start+15]."""

    CASES = [
        ("2024-01-01 10:15:00", "2024-01-01 10:00:00"),  # exact end -> own bucket
        ("2024-01-01 10:16:00", "2024-01-01 10:15:00"),  # first minute of next
        ("2024-01-01 10:00:00", "2024-01-01 09:45:00"),
        ("2024-01-01 10:14:00", "2024-01-01 10:00:00"),
        ("2024-01-01 00:00:00", "2023-12-31 23:45:00"),  # midnight wrap
    ]

    def test_end_labeling(self, spark):
        df = spark.createDataFrame([(ts(s),) for s, _ in self.CASES], "t timestamp")
        got = [r.b for r in df.select(TO.bucket_end_labeled(F.col("t")).alias("b")).collect()]
        assert got == [ts(b) for _, b in self.CASES]


class TestAnchoredResample:
    """A5: weekly anchored resample labels match pandas .resample('W-FRI')."""

    def test_weekly_fri_labels(self, spark):
        # 2024-01-01 is a Monday; W-FRI week containing it ends Fri 2024-01-05.
        rows = [
            (ts("2024-01-01 08:00:00"), 10.0),
            (ts("2024-01-05 08:00:00"), 20.0),  # same W-FRI period
            (ts("2024-01-06 08:00:00"), 30.0),  # Saturday -> next period (ends 01-12)
        ]
        df = spark.createDataFrame(rows, "t timestamp, v double")
        out = TO.resample_weekly_mean(df, "t", ["v"], anchor_dow="FRI")
        got = {r.period.isoformat(): r.v for r in out.collect()}
        assert got == {"2024-01-05": 15.0, "2024-01-12": 30.0}

    def test_weekly_sun_labels(self, spark):
        rows = [
            (ts("2024-01-07 08:00:00"), 1.0),  # Sunday -> period ends 01-07
            (ts("2024-01-08 08:00:00"), 2.0),  # Monday -> period ends 01-14
        ]
        df = spark.createDataFrame(rows, "t timestamp, v double")
        out = TO.resample_weekly_mean(df, "t", ["v"], anchor_dow="SUN")
        got = {r.period.isoformat(): r.v for r in out.collect()}
        assert got == {"2024-01-07": 1.0, "2024-01-14": 2.0}

    def test_monthly_me_labels(self, spark):
        rows = [
            (ts("2024-02-05 00:00:00"), 4.0),
            (ts("2024-02-25 00:00:00"), 6.0),
            (ts("2024-03-01 00:00:00"), 9.0),
        ]
        df = spark.createDataFrame(rows, "t timestamp, v double")
        out = TO.resample_monthly_mean(df, "t", ["v"])
        got = {r.period.isoformat(): r.v for r in out.collect()}
        assert got == {"2024-02-29": 5.0, "2024-03-31": 9.0}  # leap-year Feb end


class TestGapFill:
    def test_linear_interpolation(self, spark):
        from tomasz_weight_tracker_spark.operators.resample_fill import fill_minute_gaps

        rows = [
            ("s1", ts("2024-01-01 10:00:00"), 10.0),
            ("s1", ts("2024-01-01 10:04:00"), 18.0),  # 4-min gap: +2.0/min
            ("s2", ts("2024-01-01 10:00:00"), 5.0),  # lone reading
        ]
        df = spark.createDataFrame(rows, "sensor string, t timestamp, v double")
        out = fill_minute_gaps(df, "t", ["v"], series_keys=["sensor"])
        got = {(r.sensor, r.t): r.v for r in out.collect()}
        assert got[("s1", ts("2024-01-01 10:00:00"))] == 10.0
        assert got[("s1", ts("2024-01-01 10:01:00"))] == 12.0
        assert got[("s1", ts("2024-01-01 10:03:00"))] == 16.0
        assert got[("s1", ts("2024-01-01 10:04:00"))] == 18.0
        assert got[("s2", ts("2024-01-01 10:00:00"))] == 5.0
        assert len(got) == 6

    def test_gap_cap_limits_amplification(self, spark):
        from tomasz_weight_tracker_spark.operators.resample_fill import fill_minute_gaps

        rows = [
            ("s1", ts("2024-01-01 10:00:00"), 0.0),
            ("s1", ts("2024-01-01 20:00:00"), 600.0),
        ]
        df = spark.createDataFrame(rows, "sensor string, t timestamp, v double")
        out = fill_minute_gaps(df, "t", ["v"], series_keys=["sensor"], max_gap_minutes=30)
        assert out.count() == 32  # t0 + 30 capped interior + final reading

    def test_subminute_gap_and_duplicate_timestamp(self, spark):
        # Round-1 advisor bug: sequence(t0, t1-1min) threw
        # 'Illegal sequence boundaries' when the next reading was under
        # one minute later or shared the timestamp.  The oracle's
        # generate_series emits no rows there; we must match, and the
        # crowded readings themselves must still appear once each via
        # their own grid start (the last one per instant survives).
        from tomasz_weight_tracker_spark.operators.resample_fill import fill_minute_gaps

        rows = [
            ("s1", ts("2024-01-01 10:00:00"), 1.0),
            ("s1", ts("2024-01-01 10:00:30"), 2.0),  # 30s gap -> empty grid
            ("s1", ts("2024-01-01 10:00:30"), 3.0),  # duplicate ts -> empty grid
            ("s1", ts("2024-01-01 10:02:30"), 5.0),  # 2-min gap -> interpolates
        ]
        df = spark.createDataFrame(rows, "sensor string, t timestamp, v double")
        out = fill_minute_gaps(
            df, "t", ["v"], series_keys=["sensor"], order_tiebreak=["v"]
        ).collect()
        got = {(r.sensor, r.t, r.v) for r in out}
        # 10:00:00 and the first 10:00:30 row emit nothing (end < start);
        # the second 10:00:30 row starts the 2-min interpolated run.
        assert got == {
            ("s1", ts("2024-01-01 10:00:30"), 3.0),
            ("s1", ts("2024-01-01 10:01:30"), 4.0),
            ("s1", ts("2024-01-01 10:02:30"), 5.0),
        }
