"""Sinks (SURVEY.md §2.1 S9/S12).

S9 parity note: the reference writes ONE csv file per output
(``result.to_csv(...)``, utils/pandas_electricity.py:173).  Spark's
native writer emits a directory of part files; ``write_single_csv``
coalesces to one partition for bit-parity mode and renames the part
file.  At scale, callers should use ``df.write.csv`` directly (many
part files) — single-file output is a small-data convenience, never
the 100 TB path.
"""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Touched-partition count above which upsert_by_key's prune switches
# from a static OR-chain predicate to a broadcast semi-join (see the
# inline comment in upsert_by_key).
_MAX_STATIC_PRUNE = 64


def write_single_csv(df: DataFrame, out_path: str | Path, header: bool = True) -> Path:
    """S9: write a DataFrame as exactly one CSV file at ``out_path``."""
    out_path = Path(out_path)
    tmp = Path(tempfile.mkdtemp(prefix="spark_csv_")) / "out"
    df.coalesce(1).write.mode("overwrite").option("header", header).csv(str(tmp))
    part = next(tmp.glob("part-*.csv"))
    out_path.parent.mkdir(parents=True, exist_ok=True)
    shutil.move(str(part), out_path)
    shutil.rmtree(tmp.parent, ignore_errors=True)
    return out_path


def upsert_by_key(
    spark,
    updates: DataFrame,
    path: str | Path,
    keys: list[str],
    partition_by: list[str] | None = None,
    order_by: list[str] | None = None,
) -> None:
    """Keyed upsert sink: MERGE semantics (update-by-key-else-insert)
    onto a parquet table path.

    Engine twin of the reference's update-by-id-else-create store write
    (utils/20251223-weight-for-streamlit.py:116-132), as an idempotent
    bulk operation: rows in ``updates`` replace existing rows with the
    same key; unmatched keys append; re-running the same batch is a
    no-op.  ``updates`` must be unique per key (dedup upstream with
    ``dedup_keep_last`` — which order wins is the caller's policy, not
    the sink's) — unless ``order_by`` is given.

    ``order_by`` switches the merge from last-writer-wins to
    RECENCY-wins: per key, the row with the greatest ``order_by`` tuple
    among existing ∪ updates survives.  That makes the table state
    independent of how rows were batched (a stale row arriving late
    can no longer overwrite a newer stored row), which is what a CDC
    apply needs when the transport does not guarantee order.  The
    tuple must be a total order per key (add a unique id as the last
    column) or the survivor is nondeterministic.

    Copy-on-write over plain parquet:

    - without ``partition_by`` the whole table is rewritten — right for
      the reference's human-scale state tables;
    - with ``partition_by`` only partitions TOUCHED by the batch are
      rewritten (dynamic partition overwrite + partition-pruned read of
      the old rows), so the cost scales with the updated slice, not the
      table — the 100 TB posture.  (A transactional table format would
      add file-level manifests and concurrent-writer safety; plain
      parquet gives single-writer partition-level MERGE.)

    The merged frame is materialized (``localCheckpoint``) before the
    write because the plan reads the same files it overwrites.

    Constraint of the partitioned path: a key's partition values must
    be stable across updates (key functionally determines partition) —
    a key that MOVES partitions would leave its old row in an
    untouched partition.  Date-keyed state tables satisfy this by
    construction.
    """
    path = Path(path)
    writer_cols = updates.columns
    if not path.exists():
        merged = updates
    else:
        existing = spark.read.parquet(str(path))
        # A batch missing table columns would silently rewrite the
        # table WITHOUT them (copy-on-write replaces whole files) —
        # that's data loss, so it is an error, not a default.
        missing = set(existing.columns) - set(writer_cols)
        extra = set(writer_cols) - set(existing.columns)
        if missing or extra:
            raise ValueError(
                f"upsert_by_key: batch schema must match table schema; "
                f"missing from batch: {sorted(missing)}, "
                f"not in table: {sorted(extra)}"
            )
        existing = existing.select(*writer_cols)
        if partition_by:
            # Prune the rewrite to touched partitions.  Small batches
            # (the normal shape) use a static OR-chain of per-partition
            # equality predicates — pushed down as partition filters at
            # analysis time.  A batch touching MANY partitions would
            # make that a thousands-term predicate (quadratic analyzer
            # cost, and past a point it defeats pushdown entirely —
            # round-4 advice), so beyond _MAX_STATIC_PRUNE the pruning
            # switches to a broadcast LEFT SEMI join against the
            # touched-partition list: Spark's dynamic partition pruning
            # turns the broadcast build into a partition filter on the
            # parquet scan, constant-size plan regardless of batch
            # spread.
            parts = updates.select(*partition_by).distinct().collect()
            # NULL partition values are legal (they land in Hive's
            # default partition) — both prune paths must be null-safe
            # or existing rows in a touched null partition are dropped
            # from the merge while dynamic overwrite still rewrites
            # that partition: silent row loss (round-5 advice).
            has_null = any(p[c] is None for p in parts for c in partition_by)
            if not parts:
                existing = existing.limit(0)
            elif len(parts) <= _MAX_STATIC_PRUNE:
                cond = None
                for p in parts:
                    this = None
                    for c in partition_by:
                        eq = F.col(c).eqNullSafe(F.lit(p[c]))
                        this = eq if this is None else (this & eq)
                    cond = this if cond is None else (cond | this)
                existing = existing.filter(cond)
            elif has_null:
                # Null-safe semi-join: forgoes dynamic partition pruning
                # (DPP keys on plain equality), but a batch touching the
                # null partition is rare — correctness wins there.
                touched = spark.createDataFrame(
                    parts, updates.select(*partition_by).schema
                )
                jc = None
                for c in partition_by:
                    eq = existing[c].eqNullSafe(touched[c])
                    jc = eq if jc is None else (jc & eq)
                existing = existing.join(F.broadcast(touched), jc, "left_semi")
            else:
                touched = spark.createDataFrame(
                    parts, updates.select(*partition_by).schema
                )
                existing = existing.join(
                    F.broadcast(touched), on=list(partition_by), how="left_semi"
                )
        if order_by:
            from pyspark.sql import Window

            w = Window.partitionBy(*keys).orderBy(
                *[F.col(c).desc() for c in order_by]
            )
            merged = (
                existing.unionByName(updates)
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        else:
            merged = existing.join(
                updates.select(*keys).distinct(), on=list(keys), how="left_anti"
            ).unionByName(updates)
    merged = merged.localCheckpoint()
    writer = merged.write.mode("overwrite")
    if partition_by:
        # Writer-scoped dynamic overwrite: only partitions present in
        # the merged batch are replaced.  Scoping via option() keeps the
        # session conf untouched (a session-wide 'dynamic' would change
        # the semantics of every other overwrite in the process).
        writer = writer.option("partitionOverwriteMode", "dynamic").partitionBy(
            *partition_by
        )
    writer.parquet(str(path))


def write_text_report(lines: list[str], out_path: str | Path) -> Path:
    """S12: ordered text report (utils/loose_thoughts.py:121-133).
    Driver-side by design — reports are human-scale."""
    out_path = Path(out_path)
    out_path.parent.mkdir(parents=True, exist_ok=True)
    out_path.write_text("\n".join(lines) + "\n", encoding="utf-8")
    return out_path


def compact_table(
    spark,
    path: str | Path,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-files compaction: rewrite a parquet table into files of
    roughly ``target_file_bytes`` each; returns the new file count.

    Streaming/upsert sinks accrete many small files (one+ per micro
    batch); at scale, scan cost is dominated by per-file open/footer
    overhead long before bytes — the operational fix is periodic
    compaction into scan-efficient file sizes.  Sizing uses the
    CURRENT on-disk bytes (compressed), so the rewrite preserves
    density.  The rewrite is a read -> localCheckpoint -> overwrite of
    the same path (same single-writer posture as ``upsert_by_key``);
    on a partitioned table run it per partition directory.
    """
    from ..session import parquet_file_sizes

    total = sum(parquet_file_sizes(path) or ())
    n_files = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(str(path)).localCheckpoint()
    df.repartition(n_files).write.mode("overwrite").parquet(str(path))
    return n_files
