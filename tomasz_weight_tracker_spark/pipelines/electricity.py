"""W3: electricity meter pipeline (SURVEY.md §2, §3.1, §7.2 phase 1).

Cumulative P/OP meter readings -> DST-aware UTC -> lead deltas ->
1-minute interval explode -> peak/off-peak rate allocation -> 15-minute
end-labeled bucket aggregation.

The reference implements this FOUR times with identical semantics
(utils/pandas_electricity.py, utils/polars_electricity.py,
utils/duckdb_electricity_1-minute.py, utils/15-minute-duckdb_electricity.py);
this is the single Spark-first implementation.  Differences from the
reference's physical strategy, on purpose:

- The per-year BST boundary dim table + join
  (utils/duckdb_electricity_1-minute.py:21-55) is replaced entirely by
  ``to_utc_timestamp(ts, 'Europe/London')``.
- The per-interval minute-count self-join
  (utils/duckdb_electricity_1-minute.py:112-143) is replaced by
  per-row array aggregation over the minute grid BEFORE it is
  exploded — zero shuffles and no window sort over the amplified
  rows.
- The interpreted per-row interval loops
  (utils/pandas_electricity.py:69-122) are ``explode(sequence(...))``,
  whole-stage-codegen'd.
- Windows partition by ``series_keys`` (meter id) so the plan scales
  beyond the reference's single meter (SURVEY §7.4 item 5).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.time_ops import (
    bucket_end_labeled,
    combine_date_time,
    lead_next,
    local_to_utc,
    peak_category,
)


def read_meter_csv(spark, path: str) -> DataFrame:
    """S1: typed CSV scan of ``Date,Time,P,OP`` cumulative readings
    (utils/For Pandas and Polars --- Electricity.csv).

    P/OP are DOUBLE: the counters are mostly integral but the reference
    data contains fractional readings (row 9 of the CSV is ``650.5``),
    which pandas' inferred float64 and DuckDB's read_csv_auto both
    accept — a bigint schema would silently null them.
    """
    schema = "Date string, Time string, P double, OP double"
    df = spark.read.option("header", True).schema(schema).csv(path)
    return df.select(
        combine_date_time(F.col("Date"), F.col("Time")).alias("LocalDateTime"),
        "P",
        "OP",
    )


def fifteen_minute_usage(
    readings: DataFrame,
    series_keys: Sequence[str] = (),
    ts_col: str = "LocalDateTime",
    tz: str | None = "Europe/London",
    max_gap_minutes: int | None = None,
    bucket_minutes: int = 15,
    ordered: bool = True,
) -> DataFrame:
    """The full W3 chain on a DataFrame of cumulative (ts, P, OP) readings.

    Returns ``series_keys + [Bucket, MinDateTime, MaxDateTime, Minutes,
    P_Usage, OP_Usage]`` ordered by Bucket, matching the reference output
    shape (utils/duckdb_electricity_1-minute.py:163-172).

    Physical strategy: the logical minute grid is NEVER materialized.
    Because the peak boundaries (06:30, 23:30) fall on 15-minute
    multiples, every end-labeled bucket is category-homogeneous, so the
    explode happens at BUCKET granularity — one row per (interval,
    bucket) with a closed-form count of its grid minutes — a 15x row
    reduction versus the per-minute explode (and ~1440x versus the
    reference's per-row Python loops).  Results are bit-identical: each
    bucket contributes (count x decimal-quantized per-minute rate),
    which equals the per-minute decimal sum exactly.  For bucket widths
    that do NOT divide the peak boundaries, the code falls back to the
    per-minute explode.
    """
    keys = list(series_keys)
    ts = F.col(ts_col)
    utc = local_to_utc(ts, tz) if tz else ts
    df = readings.select(*keys, utc.alias("UTC_DateTime"), "P", "OP")

    # W1: deltas to the next reading, per series.
    df = lead_next(df, "UTC_DateTime", keys, ["UTC_DateTime", "P", "OP"])
    # Deltas cast to double AFTER the subtraction so cumulative counters
    # may be exact decimals while the per-minute rate math stays double.
    df = (
        df.filter(F.col("next_UTC_DateTime").isNotNull())
        .withColumn("Delta_P", (F.col("next_P") - F.col("P")).cast("double"))
        .withColumn("Delta_OP", (F.col("next_OP") - F.col("OP")).cast("double"))
    )

    start = F.col("UTC_DateTime")
    end = F.col("next_UTC_DateTime")
    if max_gap_minutes is not None:
        end = F.least(end, start + F.expr(f"INTERVAL {max_gap_minutes} MINUTES"))
    one_min = F.expr("INTERVAL 1 MINUTE")
    # The logical grid is sequence(start + 1min, end, 1min).  Sub-minute
    # intervals contribute no grid rows and are filtered, matching the
    # oracle's empty generate_series.
    df = df.filter(end >= start + one_min)

    bucket_secs = bucket_minutes * 60
    fast_path = (390 * 60) % bucket_secs == 0 and (1410 * 60) % bucket_secs == 0

    if fast_path:
        # Bucket-granularity explode (see docstring).  Grid point k
        # (1-based) sits at interval-start + k minutes; its epoch-SECOND
        # is s0 + 60k (the sub-second fraction of the start can never
        # move a point across a bucket or minute boundary), while the
        # emitted timestamps keep the exact µs offset.
        #
        # Everything here is flat long/decimal arithmetic on purpose:
        # the previous shape (transform() building an array of structs
        # + an aggregate() fold) ran through Catalyst's HIGHER-ORDER
        # functions, which are interpreted per element outside
        # whole-stage codegen — measured at sf0.1 they dominated the
        # post-window wall.  The closed forms below compute identical
        # values (integer counts and the same probe-minute category),
        # entirely inside codegen.
        u0 = F.unix_micros(start)
        s0 = F.floor(u0 / 1_000_000)
        k_total = F.floor((F.unix_micros(end) - u0) / 60_000_000).cast("long")
        first_bucket = (F.floor(s0 / bucket_secs) * bucket_secs).cast("long")
        last_bucket = (
            F.floor((s0 + (k_total - 1) * 60) / bucket_secs) * bucket_secs
        ).cast("long")
        df = (
            df.withColumn("__u0", u0)
            .withColumn("__s0", s0)
            .withColumn("__K", k_total)
            .withColumn("__b0", first_bucket)
            .withColumn("__bN", last_bucket)
        )

        # Per-interval P/OP minute counts, closed form (replaces the
        # array fold AND the reference's self-join J2,
        # utils/duckdb_electricity_1-minute.py:112-143).  Grid minute k
        # lives at epoch second s0+60k, so its minute-of-day under the
        # engine's pinned-UTC session is (s0 div 60 + k) mod 1440, and
        # the number of peak minutes in [1..K] telescopes through
        # cum(x) = #{y in [0..x] : y mod 1440 in (390, 1410]}:
        m0 = F.floor(F.col("__s0") / 60)

        def peak_cum(x):
            return F.floor(x / 1440) * 1020 + F.least(
                F.greatest(F.pmod(x, 1440) - 390, F.lit(0)), F.lit(1020)
            )

        df = df.withColumn(
            "P_Mins", (peak_cum(m0 + F.col("__K")) - peak_cum(m0)).cast("long")
        ).withColumn("OP_Mins", F.col("__K") - F.col("P_Mins"))

        # T6 + A1: each bucket contributes n x the decimal-quantized
        # per-minute rate — bit-identical to summing n quantized minutes.
        # Rates are constant per interval, so they are projected BEFORE
        # the explode (once per interval, not once per bucket row).
        df = df.withColumn(
            "__p_rate",
            F.when(
                F.col("P_Mins") > 0, F.col("Delta_P") / F.col("P_Mins")
            ).cast("decimal(18,12)"),
        ).withColumn(
            "__op_rate",
            F.when(
                F.col("OP_Mins") > 0, F.col("Delta_OP") / F.col("OP_Mins")
            ).cast("decimal(18,12)"),
        )

        df = df.withColumn(
            "__bsec", F.explode(F.sequence("__b0", "__bN", F.lit(bucket_secs)))
        )
        # Grid points k in bucket B, end-labeled: B <= s0+60(k-1) < B+W.
        b = F.col("__bsec")
        k_lo = F.greatest(
            F.lit(1).cast("long"),
            (F.ceil((b - F.col("__s0")) / 60) + 1).cast("long"),
        )
        k_hi = F.least(
            F.col("__K"),
            F.ceil((b + bucket_secs - F.col("__s0")) / 60).cast("long"),
        )
        df = df.withColumn("__k_lo", k_lo).withColumn("__k_hi", k_hi)
        min_ts = F.timestamp_micros(F.col("__u0") + F.col("__k_lo") * 60_000_000)
        max_ts = F.timestamp_micros(F.col("__u0") + F.col("__k_hi") * 60_000_000)
        # Buckets are category-homogeneous (docstring): one probe minute
        # classifies the whole bucket.  Same probe as peak_category on
        # min_ts, in minute-of-day arithmetic.
        probe_md = F.pmod(m0 + F.col("__k_lo"), 1440)
        is_p = (probe_md > 390) & (probe_md <= 1410)
        # n <= bucket width in minutes: decimal(4,0) keeps the product at
        # decimal(23,12) — no precision loss (18,12 x bigint would exceed
        # precision 38 and silently drop to scale 11).
        n_long = F.col("__k_hi") - F.col("__k_lo") + 1
        n = n_long.cast("decimal(4,0)")
        df = (
            df.withColumn("__n", n_long)
            .withColumn("__min_ts", min_ts)
            .withColumn("__max_ts", max_ts)
            .withColumn(
                "P_Usage_part",
                F.when(is_p & (F.col("P_Mins") > 0), F.col("__p_rate") * n),
            )
            .withColumn(
                "OP_Usage_part",
                F.when((~is_p) & (F.col("OP_Mins") > 0), F.col("__op_rate") * n),
            )
        )
        out = (
            df.groupBy(*keys, F.col("__bsec"))
            .agg(
                F.min("__min_ts").alias("MinDateTime"),
                F.max("__max_ts").alias("MaxDateTime"),
                F.sum("__n").alias("Minutes"),
                F.sum("P_Usage_part").cast("double").alias("P_Usage"),
                F.sum("OP_Usage_part").cast("double").alias("OP_Usage"),
            )
            .select(
                *keys,
                F.timestamp_seconds(F.col("__bsec")).alias("Bucket"),
                "MinDateTime",
                "MaxDateTime",
                "Minutes",
                "P_Usage",
                "OP_Usage",
            )
        )
    else:
        # Generic path (bucket width not dividing the peak boundaries):
        # per-minute explode, with the per-interval category counts
        # computed on the pre-explode ARRAY — no shuffle, no window sort
        # over the ~1440x-amplified rows (replaces the reference's
        # self-join J2, utils/duckdb_electricity_1-minute.py:112-143).
        df = df.withColumn("minutes_arr", F.sequence(start + one_min, end, one_min))

        def is_peak(m):
            mod = F.hour(m) * 60 + F.minute(m)
            return (mod > 390) & (mod <= 1410)

        df = (
            df.withColumn(
                "P_Mins", F.size(F.filter(F.col("minutes_arr"), is_peak)).cast("long")
            )
            .withColumn(
                "OP_Mins", (F.size(F.col("minutes_arr")) - F.col("P_Mins")).cast("long")
            )
            .withColumn("minute_ts", F.explode(F.col("minutes_arr")))
            .drop("minutes_arr")
            .withColumn("Category", peak_category(F.col("minute_ts")))
        )
        df = df.withColumn(
            "P_Usage_min",
            F.when(
                (F.col("Category") == "P") & (F.col("P_Mins") > 0),
                F.col("Delta_P") / F.col("P_Mins"),
            ),
        ).withColumn(
            "OP_Usage_min",
            F.when(
                (F.col("Category") == "OP") & (F.col("OP_Mins") > 0),
                F.col("Delta_OP") / F.col("OP_Mins"),
            ),
        )
        df = df.withColumn("Bucket", bucket_end_labeled(F.col("minute_ts"), bucket_minutes))
        out = df.groupBy(*keys, "Bucket").agg(
            F.min("minute_ts").alias("MinDateTime"),
            F.max("minute_ts").alias("MaxDateTime"),
            F.count(F.lit(1)).alias("Minutes"),
            # Decimal-cast sums: exact and summation-order-independent.
            F.sum(F.col("P_Usage_min").cast("decimal(18,12)")).cast("double").alias("P_Usage"),
            F.sum(F.col("OP_Usage_min").cast("decimal(18,12)")).cast("double").alias("OP_Usage"),
        )
    # The reference CSV output is Bucket-ordered; callers doing hash
    # compares or further aggregation skip the global sort (a full
    # range-partition exchange at scale).
    return out.orderBy(*keys, "Bucket") if ordered else out

