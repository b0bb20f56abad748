"""Physical-layout operators: salting for skew, bucketing for
co-located joins (SURVEY §4.4; the 100 TB playbook).

These are the two levers AQE cannot always pull for you:

- **Salting** spreads a pathologically hot key over N sub-keys.  AQE's
  skew-join splitting handles skewed JOINS, but a skewed AGGREGATION
  key (one meter producing 90% of readings) still lands one reducer —
  the two-phase salted aggregate fixes that, at the cost of a second
  (tiny) shuffle over the partial results.
- **Bucketing** persists both join sides pre-hashed on the join key so
  repeated joins are exchange-free.  Worth it when a fact table is
  joined on the same key by many queries (the weight tracker's
  source_file_id syncs, the sensor merges on Timestamp bucket).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
) -> DataFrame:
    """Two-phase aggregation for skewed grouping keys.

    ``aggs`` maps output column -> (input column, fn) where fn is one
    of 'sum' | 'count' | 'min' | 'max' (the decomposable aggregates).
    'count' is the ROW count (count(*) semantics, the input column is
    ignored) — for a non-null count, sum an isnotnull indicator
    instead.  Phase 1 groups by (key, random salt) — the hot key's
    rows spread over 16 reducers; phase 2 re-aggregates
    the (tiny) partials by key alone.
    """
    phase1 = []
    phase2 = []
    for out, (col, fn) in aggs.items():
        if fn == "count":
            phase1.append(F.count(F.lit(1)).alias(out))
            phase2.append(F.sum(out).alias(out))
        elif fn == "sum":
            phase1.append(F.sum(col).alias(out))
            phase2.append(F.sum(out).alias(out))
        elif fn == "min":
            phase1.append(F.min(col).alias(out))
            phase2.append(F.min(out).alias(out))
        elif fn == "max":
            phase1.append(F.max(col).alias(out))
            phase2.append(F.max(out).alias(out))
        else:
            raise ValueError(f"non-decomposable agg: {fn}")
    partial = df.withColumn(
        "__salt", (F.rand(seed=7) * 16).cast("int")
    ).groupBy(*keys, "__salt").agg(*phase1)
    return partial.groupBy(*keys).agg(*phase2)


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 16,
    salt_expr: Column | None = None,
) -> DataFrame:
    """Skew-resistant equi-join: salt the skewed (probe) side, EXPLODE
    the small (build) side across all salt values, join on (key, salt).
    The hot key's rows land on ``salt_buckets`` different reducers
    instead of one.  Use when the build side is too big to broadcast
    but small enough to replicate xN; otherwise prefer AQE skew-join.

    ``salt_expr`` overrides the default ``rand()`` salt with a
    deterministic probe-side expression (e.g. ``pmod(event_id, n)``).
    The JOIN RESULT is salt-invariant either way — every probe row
    meets its key's every build row exactly once — but a deterministic
    salt makes the run replayable (retried stages, A/B timing, and the
    oracle gate see identical task-level inputs), which is why the
    catalog's skew query uses it.  It must spread the HOT key's rows
    (a row-id residue does; a function of the join key does NOT).
    """
    if salt_expr is None:
        salt_expr = (F.rand(seed=7) * salt_buckets).cast("int")
    salts = F.array(*[F.lit(i) for i in range(salt_buckets)])
    left = skewed.withColumn("__salt", salt_expr)
    right = small.withColumn("__salt", F.explode(salts))
    return left.join(right, [key, "__salt"]).drop("__salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_keys: Sequence[str],
    n_buckets: int = 32,
    sort_keys: Sequence[str] | None = None,
    path: str | None = None,
) -> None:
    """Overwrite a table pre-hashed on the join key: subsequent equi-joins
    between tables bucketed the same way plan with NO exchange on
    either side (asserted in tests/test_layout.py).  ``path`` makes it
    an external table (data outside the warehouse dir)."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *bucket_keys)
    if sort_keys:
        writer = writer.sortBy(*sort_keys)
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


# --- Z-order (Morton) clustering -------------------------------------------


def zorder_key(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of two non-negative integer columns.

    Bit i of ``a`` lands at position 2i+1, bit i of ``b`` at 2i, so
    rows close in BOTH dimensions get close keys.  Sorting/range-
    partitioning the table by this key gives every file a small
    bounding box in (a, b) — min/max footer stats then prune files for
    predicates on EITHER column, where a single-column sort order only
    prunes its leading column.  The loop unrolls to a flat codegen'd
    integer expression (no UDF, no shuffle).

    Inputs must fit in ``bits`` bits (quantize first); values are
    masked, not validated, to keep the expression branch-free.
    """
    expr: Column = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1))
        expr = expr + abit * F.lit(1 << (2 * i + 1)) + bbit * F.lit(1 << (2 * i))
    return expr


def sql_zorder_key(a: str, b: str) -> str:
    """DuckDB twin of :func:`zorder_key` at 16 bits (same bit placement,
    same multiply-by-power-of-two arithmetic)."""
    terms = []
    for i in range(16):
        terms.append(f"(({a} >> {i}) & 1) * {1 << (2 * i + 1)}")
        terms.append(f"(({b} >> {i}) & 1) * {1 << (2 * i)}")
    return "(" + " + ".join(terms) + ")"


def cluster_by_zorder(
    df: DataFrame, a: Column, b: Column, bits: int = 16, n_files: int = 32
) -> DataFrame:
    """Range-partition + sort a frame by its Z-order key, ready for a
    parquet write where each output file covers a compact (a, b) box.
    One range shuffle (sampled bounds), then a local sort per file —
    the standard OPTIMIZE ... ZORDER BY shape, minus the table format."""
    keyed = df.withColumn("__z", zorder_key(a, b, bits))
    return keyed.repartitionByRange(n_files, "__z").sortWithinPartitions("__z")
