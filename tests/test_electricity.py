"""End-to-end tests for the W3 electricity pipeline: conservation
invariant (SURVEY §5.1.3), boundary spot-checks (§5.1.2), and DST
handling on a reference-shaped synthetic meter series."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from tomasz_weight_tracker_spark.pipelines.electricity import (
    fifteen_minute_usage,
    read_meter_csv,
)


def conservation_check(readings, usage) -> dict[str, float]:
    """SURVEY §5.1.3 invariant: total allocated usage equals the meter
    delta over the covered span (driver-side)."""
    first_last = readings.orderBy("LocalDateTime").agg(
        (F.max("P") - F.min("P")).alias("dP"), (F.max("OP") - F.min("OP")).alias("dOP")
    ).first()
    sums = usage.agg(
        F.sum("P_Usage").alias("sP"), F.sum("OP_Usage").alias("sOP")
    ).first()
    return {
        "meter_dP": float(first_last["dP"]),
        "meter_dOP": float(first_last["dOP"]),
        "allocated_P": float(sums["sP"] or 0.0),
        "allocated_OP": float(sums["sOP"] or 0.0),
    }


def make_readings(spark, n_days=4, per_day=4, start="2024-06-01 06:00:00"):
    """Synthetic cumulative P/OP counters: n_days x per_day readings,
    strictly increasing, evenly spaced (reference shape: ~daily)."""
    t0 = dt.datetime.fromisoformat(start)
    spacing = dt.timedelta(hours=24 // per_day)
    rows = []
    p, op = 1000, 500
    for i in range(n_days * per_day):
        rows.append((t0 + spacing * i, p, op))
        p += 7 + (i % 3)
        op += 3 + (i % 2)
    return spark.createDataFrame(rows, "LocalDateTime timestamp, P bigint, OP bigint")


class TestConservation:
    def test_total_usage_equals_meter_delta(self, spark):
        """Every interval that contains minutes of both categories fully
        allocates both deltas: with ~daily readings (the reference's
        cadence — each 24h interval spans peak AND off-peak minutes),
        sum(bucket usage) == last - first counter exactly."""
        readings = make_readings(spark, n_days=5, per_day=1)
        usage = fifteen_minute_usage(readings, tz=None)
        c = conservation_check(readings, usage)
        assert math.isclose(c["allocated_P"], c["meter_dP"], rel_tol=1e-9)
        assert math.isclose(c["allocated_OP"], c["meter_dOP"], rel_tol=1e-9)

    def test_category_starved_interval_drops_delta(self, spark):
        """The reference's allocation rule: a P delta over an interval
        with zero peak minutes is unallocated (not smeared elsewhere)."""
        rows = [
            (dt.datetime(2024, 6, 1, 1, 0), 0, 0),  # 01:00 -> 02:00: all OP minutes
            (dt.datetime(2024, 6, 1, 2, 0), 10, 6),
        ]
        readings = spark.createDataFrame(rows, "LocalDateTime timestamp, P bigint, OP bigint")
        usage = fifteen_minute_usage(readings, tz=None)
        c = conservation_check(readings, usage)
        assert c["allocated_P"] == 0.0  # the 10 kWh P delta has nowhere to go
        assert math.isclose(c["allocated_OP"], 6.0)

    def test_minutes_sum_to_span(self, spark):
        readings = make_readings(spark, n_days=2)
        usage = fifteen_minute_usage(readings, tz=None)
        total_minutes = usage.agg(F.sum("Minutes")).first()[0]
        span = readings.agg(
            (F.unix_timestamp(F.max("LocalDateTime")) - F.unix_timestamp(F.min("LocalDateTime"))) / 60
        ).first()[0]
        assert total_minutes == int(span)


class TestBucketBoundaries:
    """§5.1.2: the reference prints the buckets at the 06:30/23:30 peak
    boundaries to verify alignment; assert them instead."""

    def test_peak_boundary_allocation(self, spark):
        # One interval 06:00 -> 07:00: minutes 06:01..06:30 are OP (30),
        # 06:31..07:00 are P (30).
        rows = [
            (dt.datetime(2024, 6, 1, 6, 0), 100, 100),
            (dt.datetime(2024, 6, 1, 7, 0), 160, 130),
        ]
        readings = spark.createDataFrame(rows, "LocalDateTime timestamp, P bigint, OP bigint")
        usage = fifteen_minute_usage(readings, tz=None).collect()
        by_bucket = {r.Bucket: r for r in usage}
        # Buckets: 06:00 (06:01-06:15), 06:15, 06:30, 06:45 — end-labeled starts.
        assert len(by_bucket) == 4
        b0615 = by_bucket[dt.datetime(2024, 6, 1, 6, 15)]  # covers 06:16..06:30, all OP
        assert b0615.P_Usage is None and math.isclose(b0615.OP_Usage, 15.0)
        # covers 06:31..06:45, all P; delta_P=60 over 30 P-mins = 2.0/min.
        b0630 = by_bucket[dt.datetime(2024, 6, 1, 6, 30)]
        assert b0630.OP_Usage is None and math.isclose(b0630.P_Usage, 30.0)
        # OP minutes: 30 of 60 -> delta_OP 30 * (30/30) = 30 total allocated.
        total_op = sum(r.OP_Usage for r in usage if r.OP_Usage is not None)
        assert math.isclose(total_op, 30.0)


class TestDst:
    def test_spring_forward_shrinks_wall_interval(self, spark):
        """2024-03-31 (London): wall 00:30 -> 02:30 is only 60 UTC minutes
        because 01:00-02:00 does not exist locally."""
        rows = [
            (dt.datetime(2024, 3, 31, 0, 30), 0, 0),
            (dt.datetime(2024, 3, 31, 2, 30), 60, 0),
        ]
        readings = spark.createDataFrame(rows, "LocalDateTime timestamp, P bigint, OP bigint")
        usage = fifteen_minute_usage(readings, tz="Europe/London")
        assert usage.agg(F.sum("Minutes")).first()[0] == 60


class TestMeterCsv:
    def test_read_reference_shape(self, spark, tmp_path):
        p = tmp_path / "meter.csv"
        p.write_text(
            "Date,Time,P,OP\n"
            "29/06/2022,10:35:00,100,200\n"
            "30/06/2022,10:36:00,110,205\n"
        )
        df = read_meter_csv(spark, str(p))
        rows = df.orderBy("LocalDateTime").collect()
        assert rows[0].LocalDateTime == dt.datetime(2022, 6, 29, 10, 35)
        assert rows[1].P == 110 and rows[0].OP == 200

    def test_multi_series_partitioning(self, spark):
        """series_keys must keep meters independent (SURVEY §7.4.5)."""
        rows = [
            ("m1", dt.datetime(2024, 6, 1, 10, 0), 0, 0),
            ("m1", dt.datetime(2024, 6, 1, 11, 0), 60, 0),
            ("m2", dt.datetime(2024, 6, 1, 10, 0), 0, 0),
            ("m2", dt.datetime(2024, 6, 1, 11, 0), 120, 0),
        ]
        readings = spark.createDataFrame(
            rows, "meter string, LocalDateTime timestamp, P bigint, OP bigint"
        )
        usage = fifteen_minute_usage(readings, series_keys=("meter",), tz=None)
        sums = {r.meter: r.s for r in usage.groupBy("meter").agg(F.sum("P_Usage").alias("s")).collect()}
        assert math.isclose(sums["m1"], 60.0) and math.isclose(sums["m2"], 120.0)
