"""W2 sensor-merge pipeline tests: normalizing scan quirks (BOM,
verbose timestamp header, calibration annotations), keep-last dedup,
the full-outer fold with conflict-column materialization, schema
evolution across files, all-null pruning, the file-level equivalence
of the one-scan consolidation with the step-wise fold, its job floor,
and the defined outcome on bad export files."""

from __future__ import annotations

import argparse
import csv
import datetime as dt

import pytest
from pyspark.sql import functions as F

from tomasz_weight_tracker_spark.__main__ import run as cli_run
from tomasz_weight_tracker_spark.functions import conflict_tag, try_double
from tomasz_weight_tracker_spark.operators.dedup import dedup_keep_last
from tomasz_weight_tracker_spark.pipelines.sensors import (
    consolidate_sensors,
    drop_all_null_columns,
    merge_sensor_frames,
    merge_step,
    order_columns,
)
from tomasz_weight_tracker_spark.sources.csv_normalized import (
    SensorFileError,
    normalize_header,
    normalized_sensor_scan,
    sensor_files,
)

BOM = "﻿"
TS_HDR = "Timestamp for sample frequency every 1 min min"


def write(p, text):
    p.write_text(text, encoding="utf-8")
    return str(p)


class TestNormalizeHeader:
    def test_quirks(self):
        assert normalize_header(BOM + TS_HDR) == "Timestamp"
        assert normalize_header(" Temperature_Celsius(calibrated -0.1 deg C)") == "Temperature_Celsius"
        assert normalize_header("Relative_Humidity(calibrated -5.3%)") == "Relative_Humidity"
        assert normalize_header("Temperature_Celsius") == "Temperature_Celsius"


class TestSensorFiles:
    def test_grouping_and_order(self, tmp_path):
        for name in [
            "Kitchen I (1)_export_202511270056.csv",
            "Kitchen I (1)_export_202511210054.csv",
            "Bedroom (2)_export_202511220059.csv",
            "not_a_sensor.csv",  # P9: skipped
        ]:
            write(tmp_path / name, "x\n1\n")
        groups = sensor_files(tmp_path)
        assert set(groups) == {"Kitchen I (1)", "Bedroom (2)"}
        # Sorted by embedded export timestamp, not filename order.
        assert [f.export_ts for f in groups["Kitchen I (1)"]] == [
            "202511210054",
            "202511270056",
        ]


class TestNormalizedScan:
    def test_reference_quirks(self, spark, tmp_path):
        p = write(
            tmp_path / "Kitchen_export_202511210054.csv",
            BOM + TS_HDR + ", Temperature_Celsius(calibrated -0.1 deg C),Relative_Humidity\n"
            "2025-11-20 14:10:00,22.1,56.8\n"
            "bad-timestamp,99.0,99.0\n"  # coerced to null -> dropped
            "2025-11-20 14:11:00,24.4,59.3\n"
            "2025-11-20 14:11:00,24.5,59.4\n",  # dup ts -> keep LAST
        )
        df = normalized_sensor_scan(spark, p)
        assert df.columns == ["Timestamp", "Temperature_Celsius", "Relative_Humidity"]
        rows = {r.Timestamp: r for r in df.collect()}
        assert len(rows) == 2
        assert rows[dt.datetime(2025, 11, 20, 14, 11)].Temperature_Celsius == 24.5


class TestMergeFold:
    def _frame(self, spark, rows, cols="Timestamp timestamp, Temperature_Celsius double"):
        return spark.createDataFrame(rows, cols)

    def test_prefer_existing_fill_from_new(self, spark):
        t1, t2, t3 = (dt.datetime(2025, 11, 20, 14, m) for m in (10, 11, 12))
        a = self._frame(spark, [(t1, 1.0), (t2, None)])
        b = self._frame(spark, [(t2, 2.0), (t3, 3.0)])
        out = merge_sensor_frames([a, b])
        got = {r.Timestamp: r.Temperature_Celsius for r in out.collect()}
        assert got == {t1: 1.0, t2: 2.0, t3: 3.0}
        assert not any(c.startswith("!") for c in out.columns)  # no conflicts

    def test_conflict_column_materialized(self, spark):
        t = dt.datetime(2025, 11, 20, 14, 10)
        a = self._frame(spark, [(t, 20.0)])
        b = self._frame(spark, [(t, 25.0)])  # genuine conflict
        out = merge_sensor_frames([a, b])
        assert "!A! Temperature_Celsius" in out.columns
        row = out.collect()[0]
        assert row.Temperature_Celsius == 20.0  # existing wins
        assert row["!A! Temperature_Celsius"] == 25.0  # incoming recorded

    def test_close_values_do_not_conflict(self, spark):
        t = dt.datetime(2025, 11, 20, 14, 10)
        a = self._frame(spark, [(t, 20.0)])
        b = self._frame(spark, [(t, 20.0 + 1e-7)])  # within np.isclose tolerance
        out = merge_sensor_frames([a, b])
        assert not any(c.startswith("!") for c in out.columns)
        assert out.collect()[0].Temperature_Celsius == 20.0

    def test_schema_evolution_new_column(self, spark):
        t1, t2 = dt.datetime(2025, 11, 20, 14, 10), dt.datetime(2025, 11, 21, 14, 10)
        a = self._frame(spark, [(t1, 20.0)])
        b = spark.createDataFrame(
            [(t2, 21.0, 55.0)],
            "Timestamp timestamp, Temperature_Celsius double, Relative_Humidity double",
        )
        out = merge_sensor_frames([a, b])
        assert out.columns == ["Timestamp", "Temperature_Celsius", "Relative_Humidity"]
        got = {r.Timestamp: (r.Temperature_Celsius, r.Relative_Humidity) for r in out.collect()}
        assert got[t1] == (20.0, None) and got[t2] == (21.0, 55.0)

    def test_multiple_conflicts_get_distinct_tags(self, spark):
        t = dt.datetime(2025, 11, 20, 14, 10)
        a = self._frame(spark, [(t, 20.0)])
        b = self._frame(spark, [(t, 25.0)])
        c = self._frame(spark, [(t, 30.0)])
        out = merge_sensor_frames([a, b, c])
        conflict_cols = sorted(col for col in out.columns if col.startswith("!"))
        assert conflict_cols == ["!A! Temperature_Celsius", "!B! Temperature_Celsius"]
        row = out.collect()[0]
        assert row.Temperature_Celsius == 20.0
        assert row["!A! Temperature_Celsius"] == 25.0
        assert row["!B! Temperature_Celsius"] == 30.0


class TestDropAllNull:
    def test_prunes_empty_only(self, spark):
        df = spark.createDataFrame(
            [(dt.datetime(2025, 1, 1), None, 1.0)],
            "Timestamp timestamp, empty double, kept double",
        )
        out = drop_all_null_columns(df)
        assert out.columns == ["Timestamp", "kept"]


class TestEndToEnd:
    def test_consolidate_reference_shape(self, spark, tmp_path):
        write(
            tmp_path / "Kitchen I (1)_export_202511210054.csv",
            BOM + TS_HDR + ",Temperature_Celsius(calibrated -0.1 deg C),Relative_Humidity\n"
            "2025-11-20 14:10:00,22.1,56.8\n"
            "2025-11-20 14:11:00,24.4,59.3\n",
        )
        write(
            tmp_path / "Kitchen I (1)_export_202511220059.csv",
            BOM + TS_HDR + ",Temperature_Celsius,Relative_Humidity\n"
            "2025-11-20 14:11:00,24.9,59.3\n"  # temp conflicts (24.4 vs 24.9)
            "2025-11-21 14:10:00,20.0,50.0\n",
        )
        out = consolidate_sensors(spark, str(tmp_path))
        assert set(out) == {"Kitchen I (1)"}
        merged = out["Kitchen I (1)"]
        assert merged.columns == [
            "Timestamp",
            "Temperature_Celsius",
            "Relative_Humidity",
            "!A! Temperature_Celsius",
        ]
        rows = {r.Timestamp: r for r in merged.collect()}
        assert len(rows) == 3
        conflicted = rows[dt.datetime(2025, 11, 20, 14, 11)]
        assert conflicted.Temperature_Celsius == 24.4
        assert conflicted["!A! Temperature_Celsius"] == 24.9


def stepwise_reference(spark, paths):
    """The specification the consolidation must equal: each file read on
    its own with Spark's header inference, normalized and deduped
    keep-last, then folded left to right through ``merge_step``, pruned,
    ordered and sorted."""

    def scan(path):
        raw = spark.read.option("header", True).csv(path)
        df = raw.toDF(*[normalize_header(c) for c in raw.columns])
        measures = [c for c in df.columns if c != "Timestamp"]
        df = (
            df.withColumn("Timestamp", F.try_to_timestamp(F.col("Timestamp")))
            .filter(F.col("Timestamp").isNotNull())
            .withColumn("__file_order", F.monotonically_increasing_id())
        )
        df = dedup_keep_last(df, ["Timestamp"], [F.col("__file_order")])
        return df.select("Timestamp", *[try_double(c).alias(c) for c in measures])

    frames = [scan(p) for p in paths]
    combined, idx = frames[0], 0
    for nxt in frames[1:]:
        combined, idx = merge_step(combined, nxt, idx)
    return order_columns(drop_all_null_columns(combined)).orderBy("Timestamp")


def ts(minute):
    return (dt.datetime(2025, 11, 20, 14, 0) + dt.timedelta(minutes=minute)).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


class TestConsolidateEqualsStepwiseFold:
    def test_real_export_files(self, spark, tmp_path):
        kitchen = "Kitchen I (1)"
        paths = [
            write(
                tmp_path / f"{kitchen}_export_202511210054.csv",
                BOM + TS_HDR + ", Temperature_Celsius(calibrated -0.1 deg C), Relative_Humidity\n"
                f"{ts(0)},20.0,50.0\n"
                f"{ts(1)},20.1,50.1\n"
                "n/a,99.0,99.0\n"
                f"{ts(2)},20.2,50.2\n"
                f"{ts(3)},20.3,50.3\n"
                f"{ts(3)},20.35,\n",  # within-file dup: the LAST copy wins, empty cell
            ),
            write(
                tmp_path / f"{kitchen}_export_202511220059.csv",
                BOM + TS_HDR + ", Temperature_Celsius, Relative_Humidity\n"
                f"{ts(2)},20.2,50.2\n"  # identical overlap
                f"{ts(3)},20.9,50.3\n"  # temp conflicts; humidity fills the null
                "2025-13-45 99:99:99,1.0,1.0\n"
                f"{ts(4)},21.0,51.0\n",
            ),
            write(  # header change mid-series: Dew_Point appears
                tmp_path / f"{kitchen}_export_202511230100.csv",
                BOM + TS_HDR + ", Temperature_Celsius(calibrated +0.3 deg C), Relative_Humidity, Dew_Point\n"
                f"{ts(3)},22.0,50.3,8.0\n"  # temp conflicts again
                f"{ts(4)},21.0,55.0,9.0\n"  # humidity conflicts
                f"{ts(5)},21.5,52.0,9.5\n",
            ),
            write(
                tmp_path / f"{kitchen}_export_202511240101.csv",
                BOM + TS_HDR + ", Temperature_Celsius, Relative_Humidity, Dew_Point\n"
                f"{ts(5)},21.5,52.0,9.7\n"  # dew conflicts; the rest identical
                f"{ts(6)},21.6,,\n",
            ),
        ]
        bath = write(
            tmp_path / "Bathroom (3)_export_202511210054.csv",
            BOM + TS_HDR + ",Relative_Humidity(calibrated -5.3%)\n"
            f"{ts(0)},60.0\n{ts(0)},61.0\n",
        )

        out = consolidate_sensors(spark, str(tmp_path))
        assert set(out) == {kitchen, "Bathroom (3)"}
        for got, spec in ((out[kitchen], stepwise_reference(spark, paths)),
                          (out["Bathroom (3)"], stepwise_reference(spark, [bath]))):
            assert got.columns == spec.columns
            assert sorted(tuple(r) for r in got.collect()) == [
                tuple(r) for r in spec.collect()
            ]
        # The data exercises every conflict path, in fold tag order.
        assert out[kitchen].columns == [
            "Timestamp",
            "Temperature_Celsius",
            "Relative_Humidity",
            "Dew_Point",
            "!A! Temperature_Celsius",
            "!B! Temperature_Celsius",
            "!C! Relative_Humidity",
            "!D! Dew_Point",
        ]


def write_exports(directory, sensor, n_files):
    """``n_files`` exports of one sensor, each overlapping the previous
    one by a minute with a conflicting temperature."""
    for k in range(n_files):
        lines = [BOM + TS_HDR + ", Temperature_Celsius, Relative_Humidity"]
        lines += [f"{ts(10 * k + m)},{20 + m / 10},{50 + 10 * k + m}" for m in range(11)]
        write(directory / f"{sensor}_export_2025112{k}0000.csv", "\n".join(lines) + "\n")


class TestJobFloor:
    def _cli_jobs(self, spark, tmp_path, n_files):
        inp, out = tmp_path / f"in{n_files}", tmp_path / f"out{n_files}"
        inp.mkdir()
        write_exports(inp, "Loft (2)", n_files)
        sc = spark.sparkContext
        group = f"sensors-job-floor-{n_files}"
        sc.setJobGroup(group, group)
        try:
            cli_run(spark, argparse.Namespace(cmd="sensors", input_dir=str(inp), out_dir=str(out)))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        rows = list(csv.reader((out / "Loft (2).csv").read_text(encoding="utf-8").splitlines()))
        # Every step conflicts: one conflict column per later file.
        assert rows[0] == ["Timestamp", "Temperature_Celsius", "Relative_Humidity"] + [
            f"{conflict_tag(i)} Temperature_Celsius" for i in range(n_files - 1)
        ]
        assert [r[0] for r in rows[1:]] == sorted(r[0] for r in rows[1:])  # sorted file
        assert len(rows) == 1 + 10 * n_files + 1
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def test_jobs_do_not_grow_with_exports(self, spark, tmp_path):
        # One probe action (its two shuffle map stages and the result)
        # and the write (a map stage and the write job): the job count
        # of a sensor does not depend on its number of files.
        three, seven = self._cli_jobs(spark, tmp_path, 3), self._cli_jobs(spark, tmp_path, 7)
        assert three == seven
        assert seven <= 6


class TestBadSensorFiles:
    GOOD = BOM + TS_HDR + ",Temperature_Celsius\n" + f"{ts(0)},20.0\n{ts(1)},20.5\n"

    def _consolidate(self, spark, tmp_path, bad_text):
        write(tmp_path / "Attic_export_202511210000.csv", self.GOOD)
        bad = write(tmp_path / "Attic_export_202511220000.csv", bad_text)
        return bad, lambda: consolidate_sensors(spark, str(tmp_path))

    @pytest.mark.parametrize(
        "text, message",
        [
            ("", "empty sensor export"),
            ("Time,Temperature_Celsius\n2025-11-20 14:00:00,20.0\n", "no timestamp-like column"),
            (
                TS_HDR + ",Temperature_Celsius,Temperature_Celsius(calibrated -0.1 deg C)\n",
                "repeats ['Temperature_Celsius']",
            ),
            (TS_HDR + ",temp,Temp\n", "repeats ['Temp', 'temp']"),
        ],
        ids=["zero-bytes", "no-timestamp", "repeated-after-normalization", "repeated-case"],
    )
    def test_raise_named_error_with_path(self, spark, tmp_path, text, message):
        bad, go = self._consolidate(spark, tmp_path, text)
        with pytest.raises(SensorFileError) as err:
            go()
        assert isinstance(err.value, ValueError)
        assert bad in str(err.value) and message in str(err.value)

    def test_header_only_file_adds_no_rows(self, spark, tmp_path):
        # Its columns enter the merge but stay null, so they are pruned.
        _, go = self._consolidate(spark, tmp_path, BOM + TS_HDR + ",Temperature_Celsius,Dew_Point\n")
        merged = go()["Attic"]
        assert merged.columns == ["Timestamp", "Temperature_Celsius"]
        assert sorted(r.Temperature_Celsius for r in merged.collect()) == [20.0, 20.5]

    def test_header_only_sensor_keeps_its_output(self, spark, tmp_path):
        write(tmp_path / "Cellar_export_202511220000.csv", TS_HDR + ",Temperature_Celsius\n")
        merged = consolidate_sensors(spark, str(tmp_path))["Cellar"]
        assert merged.columns == ["Timestamp"] and merged.count() == 0

    def test_truncated_last_line(self, spark, tmp_path):
        # A last line cut after its first measure keeps that cell and
        # nulls the rest; one cut inside its timestamp is dropped.
        hdr = BOM + TS_HDR + ",Temperature_Celsius,Relative_Humidity\n"
        write(tmp_path / "Den_export_202511210000.csv", hdr + f"{ts(0)},20.0,50.0\n{ts(1)},21.5")
        write(tmp_path / "Den_export_202511220000.csv", hdr + f"{ts(2)},22.0,52.0\n2025-11-2")
        rows = {r.Timestamp.minute: tuple(r)[1:] for r in consolidate_sensors(spark, str(tmp_path))["Den"].collect()}
        assert rows == {0: (20.0, 50.0), 1: (21.5, None), 2: (22.0, 52.0)}
