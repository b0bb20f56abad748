"""W1 weight-pipeline tests: native blob parse (F1), incremental sync
anti-join (ST1), deterministic pivot (A4), coercion, anchored periodic
summary (A5/W2)."""

from __future__ import annotations

import argparse
import csv
import datetime as dt
import math

from pyspark.sql import functions as F

from tomasz_weight_tracker_spark.__main__ import run as cli_run
from tomasz_weight_tracker_spark.pipelines.weight import (
    incremental_sync,
    numeric_coercion,
    parse_weight_txt,
    periodic_summary,
    pivot_eav,
    read_txt_blobs,
)

SAMPLE = (
    "Body Composition Report\n"
    "Time:08:22, Fri,12/ 19/2025\n"
    "Weight:90.4kg  ↑   Overweight\n"
    "BMI:27.4  ↑\n"
    "Body fat:25.0%\n"
    "BMR:1680kcal\n"
    "garbage line without separator\n"
)


def blobs(spark, items):
    return spark.createDataFrame(items, "file_id string, content string")


class TestParse:
    def test_sample_parse(self, spark):
        eav = parse_weight_txt(blobs(spark, [("f1", SAMPLE)])).collect()
        by_attr = {r.attribute: r for r in eav}
        # 4 valid body rows; the garbage line (no ':') is skipped.
        assert set(by_attr) == {"Weight", "BMI", "Body fat", "BMR"}
        w = by_attr["Weight"]
        assert (w.day_name, w.date, w.time) == ("Fri", "12/ 19/2025", "08:22")
        assert w.value == "90.4" and w.info_symbol == "↑" and w.info_txt == "Overweight"
        assert by_attr["BMI"].info_symbol == "↑" and by_attr["BMI"].info_txt == ""
        assert by_attr["Body fat"].value == "25.0"
        assert by_attr["BMR"].value == "1680"
        assert w.source_file_id == "f1"

    def test_malformed_files_yield_nothing(self, spark):
        bad = [
            ("short", "only one line"),
            ("no_time", "x\nno header marker\nWeight:90kg\n"),
        ]
        assert parse_weight_txt(blobs(spark, bad)).count() == 0

    def test_read_txt_blobs_wholefile(self, spark, tmp_path):
        (tmp_path / "a.txt").write_text(SAMPLE, encoding="utf-8")
        df = read_txt_blobs(spark, str(tmp_path / "*.txt"))
        rows = df.collect()
        assert len(rows) == 1 and rows[0].content.startswith("Body Composition")
        assert rows[0].file_id.endswith("a.txt")


class TestIncrementalSync:
    def test_only_new_files_parsed(self, spark):
        master = parse_weight_txt(blobs(spark, [("f1", SAMPLE)]))
        sample2 = SAMPLE.replace("12/ 19/2025", "12/ 20/2025").replace("90.4", "89.9")
        out = incremental_sync(master, blobs(spark, [("f1", SAMPLE), ("f2", sample2)]))
        ids = {r.source_file_id for r in out.select("source_file_id").distinct().collect()}
        assert ids == {"f1", "f2"}
        # f1 was NOT re-parsed: its rows appear exactly once.
        assert out.filter(F.col("source_file_id") == "f1").count() == 4


class TestPivot:
    def test_wide_shape_and_bmr_dropped(self, spark):
        eav = parse_weight_txt(blobs(spark, [("f1", SAMPLE)]))
        wide = pivot_eav(eav)
        assert "BMR" not in wide.columns  # P3
        row = wide.collect()[0]
        assert row.date_time == dt.datetime(2025, 12, 19, 8, 22)
        assert row.Weight == "90.4" and row.BMI == "27.4"

    def test_coercion(self, spark):
        eav = parse_weight_txt(blobs(spark, [("f1", SAMPLE)]))
        wide = numeric_coercion(pivot_eav(eav))
        row = wide.collect()[0]
        assert row.Weight == 90.4 and isinstance(row.Weight, float)


def make_wide(spark, days, start="2025-01-01", weight0=90.0):
    t0 = dt.date.fromisoformat(start)
    rows = [
        (dt.datetime.combine(t0 + dt.timedelta(days=i), dt.time(8, 0)), weight0 - 0.1 * i, 27.0)
        for i in range(days)
    ]
    return spark.createDataFrame(rows, "date_time timestamp, Weight double, BMI double")


class TestAnalytics:
    def test_periodic_summary_weekly(self, spark):
        # 2025-01-01 (Wed) .. 2025-01-10; W-FRI periods end 01-03 and 01-10.
        wide = make_wide(spark, 10)
        out = periodic_summary(wide, freq="W-FRI").collect()
        assert [r.period.isoformat() for r in out] == ["2025-01-10", "2025-01-03"]
        newest, oldest = out
        assert "average_weight" in out[0].asDict() and "average_bmi" in out[0].asDict()
        # Wed+Thu+Fri of week 1: weights 90.0, 89.9, 89.8 -> mean 89.9.
        assert math.isclose(oldest.average_weight, 89.9)
        # weight_change = newest period minus previous period.
        assert math.isclose(newest.weight_change, newest.average_weight - oldest.average_weight)
        assert oldest.weight_change is None

    def test_periodic_summary_monthly(self, spark):
        wide = make_wide(spark, 40)  # spans Jan + early Feb
        out = periodic_summary(wide, freq="ME").collect()
        assert [r.period.isoformat() for r in out] == ["2025-02-28", "2025-01-31"]


class TestJobFloor:
    def test_cli_weight_jobs(self, spark, tmp_path):
        """CLI ``weight``: one row per period in one partition, so the
        newest-first order is a sort within it and no range-sampling
        job runs — at most 3 jobs (4 with a global orderBy)."""
        for i in range(30):
            day = dt.date(2025, 11, 1) + dt.timedelta(days=i)
            text = SAMPLE.replace("12/ 19/2025", day.strftime("%m/ %d/%Y")).replace(
                "90.4", f"{90.4 - 0.1 * i:.1f}"
            )
            (tmp_path / f"w{i:02d}.txt").write_text(text, encoding="utf-8")
        out = tmp_path / "weight.csv"
        sc = spark.sparkContext
        group = "weight-job-floor"
        sc.setJobGroup(group, group)
        try:
            cli_run(spark, argparse.Namespace(
                cmd="weight", txt_glob=str(tmp_path / "*.txt"), out_csv=str(out), freq="W-FRI",
            ))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        rows = list(csv.DictReader(out.read_text(encoding="utf-8").splitlines()))
        periods = [r["period"] for r in rows]
        assert len(periods) == 5 and periods == sorted(periods, reverse=True)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3
