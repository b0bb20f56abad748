"""W1: weight-tracker ETL (SURVEY.md §2 F1/ST1/A4/A5/W2/W3/G1-G2/G9-G12,
§3.3, §7.2 phase 3).

Blob .txt scale exports -> EAV long table -> wide pivot -> analytics
(recent filter, rolling trendline, anchored resample, period deltas).

The reference parses each export with a Python line loop
(utils/20251223-weight-for-streamlit.py:38-74).  The format is
line-structured, so the Spark-first parse is NATIVE array expressions
(split/slice/transform/explode) — no Python UDF anywhere in this
pipeline; the whole parse stays in whole-stage codegen and scales to
any number of files in one plan.

Format (documented at utils/20251223-weight-for-streamlit_old_001.py:28-33):

    line 1:  (ignored)
    line 2:  "Time:08:22, Fri,12/ 19/2025"          <- header
    line 3+: "Weight:90.4kg  ↑   Overweight"        <- EAV body rows
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import strip_units, try_double
from ..operators.time_ops import resample_monthly_mean, resample_weekly_mean

EAV_COLS = [
    "day_name",
    "date",
    "time",
    "attribute",
    "value",
    "info_symbol",
    "info_txt",
    "source_file_id",
]

BODY_ATTRS = ["Weight", "BMI", "Bone Mass", "Muscle Mass", "Body fat", "Visceral fat", "Body water"]


def read_txt_blobs(spark: SparkSession, path_glob: str) -> DataFrame:
    """S7-lite: whole-file text blobs + file identity for local dirs.
    (The reference's Google Drive walk S6 is a remote listing feeding the
    same (file_id, content) shape — see ``incremental_sync``.)"""
    return spark.read.text(path_glob, wholetext=True).select(
        F.input_file_name().alias("file_id"), F.col("value").alias("content")
    )


def parse_weight_txt(
    blobs: DataFrame, content_col: str = "content", file_id_col: str = "file_id"
) -> DataFrame:
    """F1 as native expressions: one blob -> N EAV rows.

    Mirrors the reference parser's observable behavior
    (utils/20251223-weight-for-streamlit.py:38-74): files with <3 lines
    or no 'Time:' in line 2 yield nothing; body lines without ':' are
    skipped; the value keeps only its first token with kg/%/kcal
    stripped (G1/G2); tokens 2/3+ become info_symbol / info_txt.
    """
    lines = F.split(F.col(content_col), "\n")
    header = F.element_at(lines, 2)
    parts = F.split(header, ",")

    df = (
        blobs.withColumn("__lines", lines)
        .filter((F.size("__lines") >= 3) & F.element_at("__lines", 2).contains("Time:"))
        .withColumn("time", F.trim(F.element_at(F.split(F.element_at("__lines", 2), "Time:"), 2)))
        .withColumn("day_name", F.trim(F.element_at(F.split(F.element_at("__lines", 2), ","), 2)))
        .withColumn("date", F.trim(F.element_at(F.split(F.element_at("__lines", 2), ","), 3)))
        .withColumn("__body", F.slice(F.col("__lines"), 3, F.greatest(F.size("__lines") - 2, F.lit(0))))
        .withColumn("__line", F.explode("__body"))
        .filter(F.col("__line").contains(":"))
    )
    # "Weight:90.4kg  ↑   Overweight" -> key before first ':', rest after.
    key = F.substring_index(F.col("__line"), ":", 1)
    rest = F.expr("substring(__line, instr(__line, ':') + 1)")
    toks = F.split(F.trim(rest), r"\s+")
    # time col holds "08:22" — split on 'Time:' grabbed everything after,
    # but the header's first comma field ends the time value:
    df = df.withColumn("time", F.trim(F.element_at(F.split(F.col("time"), ","), 1)))
    return df.select(
        "day_name",
        "date",
        "time",
        F.trim(key).alias("attribute"),
        strip_units(F.element_at(toks, 1)).alias("value"),
        F.when(F.size(toks) >= 2, F.element_at(toks, 2)).otherwise(F.lit("")).alias("info_symbol"),
        F.when(F.size(toks) >= 3, F.array_join(F.slice(toks, 3, 1000), " "))
        .otherwise(F.lit(""))
        .alias("info_txt"),
        F.col(file_id_col).alias("source_file_id"),
    )


def incremental_sync(
    master_eav: DataFrame, available_blobs: DataFrame, file_id_col: str = "file_id"
) -> DataFrame:
    """ST1 batch form: parse ONLY blobs whose file id is absent from the
    master EAV (left-anti join J4 — the reference's set-difference at
    utils/20251223-weight-for-streamlit.py:144,155), then append (U1).
    """
    new_blobs = available_blobs.join(
        master_eav.select(F.col("source_file_id").alias(file_id_col)).distinct(),
        on=file_id_col,
        how="left_anti",
    )
    new_eav = parse_weight_txt(new_blobs, file_id_col=file_id_col)
    return master_eav.unionByName(new_eav, allowMissingColumns=True)


def eav_datetime(df: DataFrame) -> Column:
    """G10: mixed-format datetime from the header's date + time strings.
    The reference date carries stray spaces ("12/ 19/2025"); strip them
    before trying formats, with to_datetime(format='mixed') semantics."""
    date_clean = F.regexp_replace(F.col("date"), r"\s+", "")
    stamp = F.concat_ws(" ", date_clean, F.col("time"))
    return F.coalesce(
        F.try_to_timestamp(stamp, F.lit("MM/dd/yyyy HH:mm")),
        F.try_to_timestamp(stamp, F.lit("dd/MM/yyyy HH:mm")),
        F.try_to_timestamp(stamp, F.lit("yyyy-MM-dd HH:mm")),
        F.try_to_timestamp(stamp, F.lit("MM/dd/yyyy HH:mm:ss")),
    )


def pivot_eav(eav: DataFrame, attributes: Sequence[str] | None = None) -> DataFrame:
    """A4: EAV long -> wide, aggfunc='first' with a DETERMINISTIC first
    (min by source file then attribute order) — the reference relies on
    pandas insertion order, which a distributed engine must pin down.
    Drops BMR (P3) per utils/20251223-weight-for-streamlit.py:263-264.
    """
    attrs = list(attributes or BODY_ATTRS)
    df = eav.withColumn("date_time", eav_datetime(eav)).filter(
        F.col("date_time").isNotNull()
    )
    return (
        df.groupBy("date_time")
        .pivot("attribute", attrs)
        .agg(F.min_by("value", F.struct("source_file_id", "time")))
    )


def numeric_coercion(wide: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """G9: pd.to_numeric(errors='coerce') on the measure columns."""
    cols = list(cols or [c for c in wide.columns if c != "date_time"])
    out = wide
    for c in cols:
        out = out.withColumn(c, try_double(F.col(f"`{c}`")))
    return out


def periodic_summary(
    wide: DataFrame,
    freq: str = "W-FRI",
    value_cols: Sequence[str] = ("Weight", "BMI"),
) -> DataFrame:
    """A5 + W2 + P2: anchored resample mean (weekly 'W-<dow>' or
    month-end 'ME'), newest-first, with per-period weight_change =
    this period - previous period (the reference's shift(-1) on a
    desc-sorted frame, utils/20251223-weight-for-streamlit.py:344-356).
    """
    cols = [c for c in value_cols if c in wide.columns]
    df = wide.select("date_time", *cols).withColumnRenamed("date_time", "ts")
    if freq.upper() in ("ME", "M"):
        res = resample_monthly_mean(df, "ts", cols)
    elif freq.upper().startswith("W-"):
        res = resample_weekly_mean(df, "ts", cols, anchor_dow=freq[2:])
    else:
        raise ValueError(f"unsupported resample freq: {freq}")
    # bounded-frame: one row per resample period
    w = Window.orderBy("period")
    res = res.withColumn(
        "weight_change", F.col("Weight") - F.lag("Weight").over(w)
    )
    renames = {"Weight": "average_weight", "BMI": "average_bmi"}
    for old, new in renames.items():
        if old in res.columns:
            res = res.withColumnRenamed(old, new)
    return res.orderBy(F.col("period").desc())
