"""Incremental view maintenance: keep a small materialized result
(top-k, running aggregates) current under appends WITHOUT recomputing
over the full history.

Motivated by the incremental top-k literature (EDBT 2020 "Incremental
Based Framework for Efficient Top-K Similarity Search in Interactive
Data Analysis Sessions" — PAPERS.md): top-k under inserts is
MONOTONIC, so merging the previous top-k with only the new batch and
re-ranking is exact — the one property that lets a 100 TB-history
leaderboard update at new-data cost.  The reference's analogue is its
cached-master-table + new-files-only sync loop
(utils/20251223-weight-for-streamlit.py:135-189), generalized from
"append rows" to "maintain a ranked view".

Deletions/updates break monotonicity; for those, recompute or keep a
per-key aggregate table (see sources/writers.upsert_by_key) instead.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.writers import live_table, replace_table


def incremental_topk(
    spark: SparkSession,
    new_batch: DataFrame,
    state_path: str | Path,
    order_col: str,
    k: int,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Merge ``new_batch`` into the persisted top-k at ``state_path``
    and rewrite it.  Returns the updated top-k frame.

    Exactness: top-k(history ∪ batch) == top-k(top-k(history) ∪ batch)
    because dropping any row outside the old top-k cannot promote it
    later under insert-only growth.  Cost per refresh: |old top-k| +
    |batch| rows through one TakeOrderedAndProject — independent of
    history size.  ``tiebreak_cols`` make the ranking total so the
    stored state is deterministic (same discipline as the catalog's
    ordered queries).

    Crash safety: the state is rewritten the way every stored table
    is, by ``sources/writers.replace_table`` — the new top-k goes to a
    hidden sibling that is swapped in with two renames, never over the
    live state in place, and ``live_table`` puts the backup back when
    a crash fell between the renames.
    """
    state_path = live_table(state_path)
    order = [F.col(order_col).desc()] + [
        F.col(c).asc() for c in (tiebreak_cols or [])
    ]
    if state_path.exists():
        prev = spark.read.parquet(str(state_path)).select(*new_batch.columns)
        merged = prev.unionByName(new_batch)
    else:
        merged = new_batch
    replace_table(merged.orderBy(*order).limit(k), state_path)
    return spark.read.parquet(str(state_path))


def incremental_agg(
    spark: SparkSession,
    new_batch: DataFrame,
    state_path: str | Path,
    keys: list[str],
    value_col: str,
) -> DataFrame:
    """Incrementally maintained per-key aggregate table (count / sum /
    min / max) — classic incremental view maintenance for the
    DECOMPOSABLE aggregates, complementing :func:`incremental_topk`'s
    rank maintenance.

    The batch first collapses to per-key PARTIAL states (one keyed
    aggregation over batch rows only), then partials merge with the
    stored state by the aggregates' own combine functions (count+count,
    sum+sum, min(min), max(max)) — the associativity that makes
    map-side combine work is exactly what makes the refresh exact.
    Cost per refresh: |state keys| + |batch| rows through one keyed
    aggregation — independent of history ROW count (state grows with
    key cardinality, the same bound a streaming state store carries).

    ``value_col`` must be integer-typed (quantize floats upstream —
    integer sums are order-insensitive and engine-exact; a double sum
    would depend on partition merge order).  Same crash safety as
    incremental_topk.
    """
    state_path = live_table(state_path)
    v = F.col(value_col)
    partial = new_batch.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("sum_v"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
    )
    if state_path.exists():
        prev = spark.read.parquet(str(state_path)).select(*partial.columns)
        merged = (
            prev.unionByName(partial)
            .groupBy(*keys)
            .agg(
                F.sum("n").alias("n"),
                F.sum("sum_v").alias("sum_v"),
                F.min("min_v").alias("min_v"),
                F.max("max_v").alias("max_v"),
            )
        )
    else:
        merged = partial
    replace_table(merged, state_path)
    return spark.read.parquet(str(state_path))
