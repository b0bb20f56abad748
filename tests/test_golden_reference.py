"""Golden end-to-end tests on the REAL reference inputs (SURVEY §5.2):
the engine's output on the reference's own data files is compared
row-for-row against an independent DuckDB implementation of the
documented semantics — the reference's own cross-engine methodology.

Skipped automatically when /root/reference is not present.
"""

from __future__ import annotations

import math
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tomasz_weight_tracker_spark.pipelines.electricity import (
    fifteen_minute_usage,
    read_meter_csv,
)
from tomasz_weight_tracker_spark.pipelines.sensors import consolidate_sensors

REF = Path("/root/reference")
METER_CSV = REF / "utils" / "For Pandas and Polars --- Electricity.csv"
SENSOR_DIR = REF / "data"

needs_ref = pytest.mark.skipif(not METER_CSV.exists(), reason="reference data absent")


# Independent DuckDB implementation of the electricity semantics
# (SURVEY §2 W1/T2/T4/T5/T6/T7/A1): BST->UTC via ICU timezone(), lead
# deltas over the single series, generate_series minute grid, (06:30,
# 23:30] peak rule, per-category rate allocation, end-labeled 15-minute
# buckets with decimal-exact sums.
GOLDEN_SQL = """
WITH raw AS (
  SELECT strptime(Date || ' ' || Time, '%d/%m/%Y %H:%M:%S') AS lts, P::DOUBLE AS P, OP::DOUBLE AS OP
  FROM read_csv('{csv}', header=true, all_varchar=true)
), utc AS (
  SELECT timezone('UTC', timezone('Europe/London', lts)) AS ts, P, OP FROM raw
), leads AS (
  SELECT ts AS t0, lead(ts) OVER w AS t1,
         (lead(P) OVER w - P)::DOUBLE AS d_p,
         (lead(OP) OVER w - OP)::DOUBLE AS d_op
  FROM utc WINDOW w AS (ORDER BY ts)
), grid AS (
  SELECT t0, d_p, d_op,
         unnest(generate_series(t0 + INTERVAL 1 MINUTE, t1, INTERVAL 1 MINUTE)) AS m
  FROM leads WHERE t1 IS NOT NULL AND t1 >= t0 + INTERVAL 1 MINUTE
), cat AS (
  SELECT *, CASE WHEN (hour(m) * 60 + minute(m)) > 390
                  AND (hour(m) * 60 + minute(m)) <= 1410
             THEN 'P' ELSE 'OP' END AS category
  FROM grid
), counted AS (
  SELECT *,
         sum(CASE WHEN category = 'P' THEN 1 ELSE 0 END) OVER (PARTITION BY t0) AS p_mins,
         sum(CASE WHEN category = 'OP' THEN 1 ELSE 0 END) OVER (PARTITION BY t0) AS op_mins
  FROM cat
), rated AS (
  SELECT m,
         CASE WHEN category = 'P' AND p_mins > 0 THEN d_p / p_mins END AS p_min,
         CASE WHEN category = 'OP' AND op_mins > 0 THEN d_op / op_mins END AS op_min
  FROM counted
)
SELECT make_timestamp(((floor(floor(epoch(m - INTERVAL 1 MINUTE)) / 900) * 900)::BIGINT) * 1000000) AS bucket,
       min(m) AS min_ts, max(m) AS max_ts, count(*) AS minutes,
       sum(p_min::DECIMAL(18,12))::DOUBLE AS p_usage,
       sum(op_min::DECIMAL(18,12))::DOUBLE AS op_usage
FROM rated GROUP BY bucket
"""


@needs_ref
class TestElectricityGolden:
    def test_full_chain_matches_duckdb(self, spark, duck):
        readings = read_meter_csv(spark, str(METER_CSV))
        got = fifteen_minute_usage(readings, tz="Europe/London", max_gap_minutes=None)
        srows = {
            r.Bucket: (r.MinDateTime, r.MaxDateTime, r.Minutes, r.P_Usage, r.OP_Usage)
            for r in got.collect()
        }
        orows = {
            r[0].replace(tzinfo=None): (r[1], r[2], r[3], r[4], r[5])
            for r in duck.execute(GOLDEN_SQL.format(csv=METER_CSV)).fetchall()
        }
        assert len(srows) == len(orows) and len(srows) > 100_000
        mismatches = [
            (b, srows[b], orows[b]) for b in srows if srows[b] != orows.get(b)
        ]
        assert not mismatches, f"{len(mismatches)} mismatching buckets; first: {mismatches[:2]}"

    def test_conservation_on_reference_data(self, spark):
        """Σ allocated == meter delta over intervals that have matching
        minutes (all reference intervals span both categories)."""
        readings = read_meter_csv(spark, str(METER_CSV))
        usage = fifteen_minute_usage(readings, tz="Europe/London")
        sums = usage.agg(
            F.sum("P_Usage").alias("p"), F.sum("OP_Usage").alias("op")
        ).first()
        bounds = readings.agg(
            (F.max("P") - F.min("P")).alias("dp"), (F.max("OP") - F.min("OP")).alias("dop")
        ).first()
        # Deltas in sub-minute or category-starved intervals may drop out;
        # on the reference data the loss is zero.
        assert math.isclose(sums.p, bounds.dp, rel_tol=1e-9)
        assert math.isclose(sums.op, bounds.dop, rel_tol=1e-9)


@pytest.mark.skipif(not SENSOR_DIR.exists(), reason="reference data absent")
class TestSensorGolden:
    def test_merge_loses_no_nonnull_cell(self, spark):
        """SURVEY §5.2 property: after the fold, every non-null cell of
        every input file survives — either as the kept value or inside a
        conflict column for that measure.  Run on one real sensor."""
        import duckdb as ddb

        out = consolidate_sensors_single(spark, "Bathroom (3)")
        merged = out.toPandas().set_index("Timestamp")

        con = ddb.connect()
        files = sorted(SENSOR_DIR.glob("Bathroom (3)_export_*.csv"))
        assert len(files) == 7
        total_cells = checked = 0
        for f in files:
            pdf = con.execute(
                f"SELECT * FROM read_csv('{f}', header=true, all_varchar=true)"
            ).fetchdf()
            ts_col = next(c for c in pdf.columns if "timestamp" in c.lower())
            # keep-last per timestamp within the file, as the scan does
            pdf = pdf.drop_duplicates(subset=[ts_col], keep="last")
            for _, row in pdf.iterrows():
                import pandas as pd

                ts = pd.to_datetime(row[ts_col], errors="coerce")
                if ts is pd.NaT or ts not in merged.index:
                    continue
                for col in pdf.columns:
                    if col == ts_col:
                        continue
                    try:
                        val = float(row[col])
                    except (TypeError, ValueError):
                        continue
                    base = _normalize_measure(col)
                    mrow = merged.loc[ts]
                    candidates = [
                        mrow[c]
                        for c in merged.columns
                        if c == base or (c.startswith("!") and c.endswith(base))
                    ]
                    total_cells += 1
                    if any(
                        v is not None and not pd.isna(v) and math.isclose(v, val, rel_tol=1e-5, abs_tol=1e-9)
                        for v in candidates
                    ):
                        checked += 1
        assert total_cells > 5000
        assert checked == total_cells, f"lost {total_cells - checked} of {total_cells} cells"


def _normalize_measure(col: str) -> str:
    from tomasz_weight_tracker_spark.sources.csv_normalized import normalize_header

    return normalize_header(col)


def consolidate_sensors_single(spark, sensor: str):
    from tomasz_weight_tracker_spark.pipelines.sensors import merge_sensor_frames
    from tomasz_weight_tracker_spark.sources.csv_normalized import (
        normalized_sensor_scan,
        sensor_files,
    )

    files = sensor_files(SENSOR_DIR)[sensor]
    frames = [normalized_sensor_scan(spark, f.path) for f in files]
    return merge_sensor_frames(frames)
