"""As-of join (SURVEY.md §2.3 "not present" row — the sanctioned
extension: timestamp alignment in the reference is always exact-key;
an as-of join generalizes it to 'latest right row at or before the
left timestamp').

Spark-first strategy: the classic union + last-value window —

1. union both sides with a side flag (right=0, left=1);
2. one window per key ordered by (ts, flag): ``last(right_value,
   ignoreNulls)`` over unbounded-preceding..current carries the most
   recent right value forward;
3. keep left rows.

Cost: ONE shuffle (the window partition by key) — strictly cheaper
than the naive range-join (a join + per-row max subquery), and the
same shuffle the downstream per-key logic needs anyway.  At 100 TB
both sides are assumed pre-partitioned by the key, so the union is
partition-local and only the window sort remains.

Ties: a right row AT the left timestamp matches (>= semantics, flag
orders right before left at equal ts), matching DuckDB ``ASOF JOIN ON
l.ts >= r.ts``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Left as-of join on ``ts``: every left row gains ``value_asof`` =
    the latest right ``value`` with ``right.ts <= left.ts`` per key
    (NULL when no earlier right row exists).

    The right side must be unique per (keys, ts); pre-dedup if not.
    """
    keys = list(keys)
    lcols = [c for c in left.columns if c not in (*keys, "ts")]
    l = left.select(
        *keys,
        F.col("ts"),
        F.lit(1).alias("__side"),
        *[F.col(c) for c in lcols],
        F.lit(None).cast(right.schema["value"].dataType).alias("__r_value"),
    )
    r = right.select(
        *keys,
        F.col("ts"),
        F.lit(0).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        F.col("value").alias("__r_value"),
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    unioned = l.unionByName(r).withColumn(
        "value_asof", F.last("__r_value", ignorenulls=True).over(w)
    )
    return unioned.filter(F.col("__side") == 1).select(*keys, "ts", *lcols, "value_asof")
