"""S4/S5: normalizing sensor-CSV scan and filename-keyed file grouping.

The reference's raw sensor exports (reference ``data/*.csv``) have:

- a UTF-8 BOM on the header line;
- a verbose timestamp column (``"Timestamp for sample frequency every
  1 min min"``) detected by case-insensitive substring match
  (utils/20251223-csv-to-separate-sensors.py:44-49);
- per-sensor calibration-annotated measure names, e.g.
  ``Temperature_Celsius(calibrated -0.1 deg C)`` vs plain
  ``Temperature_Celsius`` — schema drift ACROSS files of one sensor;
- leading spaces in header cells.

Spark-first treatment: the header line of each export is read on the
driver (:func:`read_sensor_header` — :func:`sensor_files` already globs
the local directory there), normalized and validated, and the file is
scanned with an explicit all-string schema (:func:`sensor_rows`), so a
scan costs no header-inference job and the plan is fixed before any
data moves.  Each scan parses the timestamp (P5 drops unparseable
ones), numbers the rows in file order for keep-last dedup (A6), and
``try_cast``s every measure (G9).  :func:`normalized_sensor_scan` is
the deduplicated per-file frame; the W2 consolidation unions the
undeduplicated scans of a sensor and dedups them once (see
``pipelines/sensors.py``).

Bad files have a defined outcome.  A 0-byte file, a header without a
timestamp-like column, and a header whose normalized names repeat
(case-insensitively, as Spark resolves names) raise
:class:`SensorFileError` with the path.  A header-only file contributes
no rows (its columns are pruned unless another file fills them).  A
truncated last line keeps the cells it has: missing trailing cells are
null, and a line cut inside its timestamp fails the parse and is
dropped like any unparseable timestamp.
"""

from __future__ import annotations

import csv
import re
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import try_double
from ..operators.dedup import dedup_keep_last

# Reference filename convention: "<sensor>_export_<yyyymmddHHMM>[ (n)].csv"
# (utils/20251223-csv-to-separate-sensors.py:23-41).
FILENAME_RE = re.compile(r"^(?P<sensor>.+?)_export_(?P<export_ts>\d{12}).*\.csv$")

TIMESTAMP_SUBSTR = "timestamp"

# Calibration annotation: "Temperature_Celsius(calibrated -0.1 deg C)"
# normalizes to "Temperature_Celsius"; the annotation is data about the
# sensor, not a distinct measure (SURVEY §1.1.3).
CALIBRATION_RE = re.compile(r"\s*\(calibrated[^)]*\)\s*$", re.IGNORECASE)


@dataclass(frozen=True)
class SensorFile:
    path: str
    sensor: str
    export_ts: str  # yyyymmddHHMM — the keep-last fold order key (O4)


def sensor_files(input_dir: str | Path) -> dict[str, list[SensorFile]]:
    """S5: glob + filename-regex grouping, sorted by (export_ts, name) so
    the fold order (and therefore keep-last semantics) is deterministic
    (utils/20251223-csv-to-separate-sensors.py:37-41, 260-272)."""
    groups: dict[str, list[SensorFile]] = {}
    for p in sorted(Path(input_dir).glob("*.csv")):
        m = FILENAME_RE.match(p.name)
        if not m:  # P9: skip non-conforming names
            continue
        sf = SensorFile(str(p), m.group("sensor").strip(), m.group("export_ts"))
        groups.setdefault(sf.sensor, []).append(sf)
    for files in groups.values():
        files.sort(key=lambda f: (f.export_ts, f.path))
    return groups


def normalize_header(name: str) -> str:
    """BOM strip + trim + verbose-timestamp rename + calibration strip."""
    n = name.lstrip("﻿").strip()
    if TIMESTAMP_SUBSTR in n.lower():
        return "Timestamp"
    return CALIBRATION_RE.sub("", n)


class SensorFileError(ValueError):
    """A sensor export the W2 consolidation cannot read; names the file."""


@dataclass(frozen=True)
class SensorHeader:
    raw: tuple[str, ...]  # header cells as written: the scan schema's names
    columns: tuple[str, ...]  # normalized; exactly one is "Timestamp"

    @property
    def measures(self) -> list[str]:
        return [c for c in self.columns if c != "Timestamp"]


def read_sensor_header(path: str) -> SensorHeader:
    """Read and validate one export's header line on the driver.

    Like Spark's CSV header, the header is the first non-blank line;
    empty cells are named ``_c<i>``.  Raises :class:`SensorFileError`
    for a 0-byte file, a header without a timestamp-like column, or
    normalized names that repeat.
    """
    # utf-8-sig drops a leading BOM, as Spark's CSV reader does.
    with open(path, encoding="utf-8-sig", errors="replace", newline="") as f:
        line = next((ln for ln in f if ln.strip()), None)
    if line is None:
        raise SensorFileError(f"empty sensor export (no header line): {path}")
    raw = tuple(
        cell if cell else f"_c{i}" for i, cell in enumerate(next(csv.reader([line])))
    )
    columns = tuple(normalize_header(c) for c in raw)
    if "Timestamp" not in columns:
        raise SensorFileError(f"no timestamp-like column in {path}: {list(raw)}")
    folded = [c.lower() for c in columns]
    repeated = sorted({c for c in columns if folded.count(c.lower()) > 1})
    if repeated:
        raise SensorFileError(
            f"header of {path} repeats {repeated} after normalization: {list(raw)}"
        )
    return SensorHeader(raw, columns)


def sensor_rows(spark: SparkSession, path: str, header: SensorHeader) -> DataFrame:
    """S4 scan of one export, NOT deduplicated: Timestamp (rows whose
    timestamp does not parse are dropped, P5), ``__order`` (the row's
    position in the file, the keep-last tiebreak), then every measure
    coerced to double (G9).  The explicit schema means no job runs
    until the caller's action."""
    schema = T.StructType([T.StructField(n, T.StringType()) for n in header.raw])
    # Positional names: the scan's names are the file's own, and a
    # measure name may hold characters that column resolution parses.
    pos = [f"__c{i}" for i in range(len(header.raw))]
    raw = spark.read.schema(schema).option("header", True).csv(path).toDF(*pos)
    by_name = dict(zip(header.columns, pos))
    return (
        raw.select(
            F.try_to_timestamp(F.col(by_name["Timestamp"])).alias("Timestamp"),
            # File order = row order within the file (matching pandas
            # drop_duplicates(keep='last') on the file as read).
            F.monotonically_increasing_id().alias("__order"),
            *[try_double(by_name[c]).alias(c) for c in header.measures],
        )
        .filter(F.col("Timestamp").isNotNull())
    )


def normalized_sensor_scan(spark: SparkSession, path: str) -> DataFrame:
    """S4: one sensor export -> typed (Timestamp, measures...) frame,
    unique on Timestamp (keep-last in file order, A6)
    (utils/20251223-csv-to-separate-sensors.py:52-85)."""
    rows = sensor_rows(spark, path, read_sensor_header(path))
    return dedup_keep_last(rows, ["Timestamp"], [F.col("__order")]).drop("__order")


def inferred_csv_scan(spark: SparkSession, path: str) -> DataFrame:
    """S2 in its literal ``inferSchema`` form: one sampling pass picks
    column types (the reference's ``read_csv_auto``,
    utils/20251223-csv-for-duckdb.py).  The engine's DEFAULT auto-typing
    path is the header-scan + ``try_cast`` in
    :func:`normalized_sensor_scan` — per-VALUE coercion semantics
    (``errors='coerce'``: a stray string nulls one cell, not the whole
    column), which is strictly more forgiving than inference (a stray
    string demotes the inferred column to string).  This variant exists
    for parity with the reference's mode and for inputs known clean,
    where skipping the per-value try_cast keeps the scan schema-typed
    at the source (PushedFilters apply to typed columns).
    """
    raw = spark.read.option("header", True).option("inferSchema", True).csv(path)
    return raw.toDF(*[normalize_header(c) for c in raw.columns])
