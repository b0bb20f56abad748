"""Sinks (SURVEY.md §2.1 S9/S12), and the one way a stored table is
rewritten.

S9 parity note: the reference writes ONE csv file per output
(``result.to_csv(...)``, utils/pandas_electricity.py:173).  Spark's
native writer emits a directory of part files; ``write_single_csv``
coalesces to one partition for bit-parity mode and renames the part
file.  At scale, callers should use ``df.write.csv`` directly (many
part files) — single-file output is a small-data convenience, never
the 100 TB path.

Rewriting a stored table (``upsert_by_key``, ``compact_table``, the
incremental views in ``operators/incremental.py``): the new contents
are written to a hidden sibling ``.<name>.tmp`` and swapped in with
two directory renames (table -> ``.<name>.bak``, tmp -> table), never
overwriting the path the plan reads.  A crash at any point leaves a
complete copy under the table's name or the backup's, and
:func:`live_table` puts the backup back before the next rewrite reads.
The siblings are hidden because Spark's partition discovery skips
names that start with ``.``: a swap inside a partitioned table (a
compaction of one partition directory) never shows up as a partition
value.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from datetime import datetime
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType


def write_single_csv(df: DataFrame, out_path: str | Path) -> Path:
    """S9: write a DataFrame as exactly one CSV file, with a header, at
    ``out_path``."""
    out_path = Path(out_path)
    tmp = Path(tempfile.mkdtemp(prefix="spark_csv_")) / "out"
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(str(tmp))
    part = next(tmp.glob("part-*.csv"))
    out_path.parent.mkdir(parents=True, exist_ok=True)
    shutil.move(str(part), out_path)
    shutil.rmtree(tmp.parent, ignore_errors=True)
    return out_path


def _sibling(path: Path, kind: str) -> Path:
    return path.with_name(f".{path.name}.{kind}")


def live_table(path: str | Path) -> Path:
    """``path``, with its backup renamed back first when a crash fell
    between the two renames of :func:`replace_table` (so only the
    backup is left).  Every rewrite reads the table through this."""
    path = Path(path)
    bak = _sibling(path, "bak")
    if not path.exists() and bak.exists():
        _swap_in(path, bak)
    return path


def replace_table(df: DataFrame, path: str | Path) -> None:
    """Rewrite the parquet table at ``path`` with ``df``, which may
    read ``path`` itself: write the hidden tmp sibling, then swap it
    in.  A failed write leaves the table as it was."""
    path = Path(path)
    tmp = _sibling(path, "tmp")
    df.write.mode("overwrite").parquet(str(tmp))
    _swap_in(path, tmp)


def _swap_in(path: Path, src: Path) -> None:
    """The two-rename swap: ``path`` -> backup, ``src`` -> ``path``,
    then drop the backup."""
    bak = _sibling(path, "bak")
    if path.exists():
        shutil.rmtree(bak, ignore_errors=True)
        os.rename(path, bak)
    os.rename(src, path)
    shutil.rmtree(bak, ignore_errors=True)


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

    - without ``partition_by`` the whole table is rewritten through
      :func:`replace_table` (tmp sibling, then swap) — right for the
      reference's human-scale state tables;
    - with ``partition_by`` only partitions TOUCHED by the batch are
      rewritten (dynamic partition overwrite + partition-pruned read of
      the old rows), so the cost scales with the updated slice, not the
      table — the 100 TB posture.  The writer stages the new partitions
      in ``.spark-staging-*`` and moves them in at job commit, after
      every task has read the old rows.  (A transactional table format
      would add file-level manifests and concurrent-writer safety;
      plain parquet gives single-writer partition-level MERGE.)

    Constraint of the partitioned path: a key's partition values must
    be stable across updates (key functionally determines partition) —
    a key that MOVES partitions would leave its old row in an
    untouched partition.  Date-keyed state tables satisfy this by
    construction.
    """
    path = live_table(path)
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
            existing = _touched_only(existing, updates, partition_by)
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
    if not partition_by:
        replace_table(merged, path)
        return
    # Writer-scoped dynamic overwrite: only partitions present in the
    # merged batch are replaced.  Scoping via option() keeps the
    # session conf untouched (a session-wide 'dynamic' would change the
    # semantics of every other overwrite in the process).
    merged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        *partition_by
    ).parquet(str(path))


def _touched_only(existing: DataFrame, updates: DataFrame, partition_by: list[str]) -> DataFrame:
    """``existing`` filtered to the partitions ``updates`` touches, by
    one ``struct(<partition cols>) IN (<touched tuples>)`` predicate
    that Spark plans under the scan's partition filters however many
    partitions the batch touches.  Struct equality treats NULL fields
    as equal, so rows of a touched NULL partition (Hive's default
    partition) stay in the merge that rewrites it.  The predicate is
    SQL text: one Py4J call instead of several per touched tuple."""
    parts = updates.select(*partition_by).distinct().collect()
    if not parts:
        return existing.limit(0)
    types = [existing.schema[c].dataType for c in partition_by]

    def lit(value, dtype) -> str:
        if isinstance(dtype, TimestampType) and isinstance(value, datetime):
            return f"timestamp_micros({dtype.toInternal(value)})"
        text = "NULL"
        if value is not None:
            text = "'" + str(value).replace("\\", "\\\\").replace("'", "\\'") + "'"
        return f"CAST({text} AS {dtype.simpleString()})"

    cols = ", ".join("`" + c.replace("`", "``") + "`" for c in partition_by)
    tuples = ", ".join(
        "struct(" + ", ".join(lit(v, t) for v, t in zip(p, types)) + ")" for p in parts
    )
    return existing.filter(F.expr(f"struct({cols}) IN ({tuples})"))


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
    density.  The rewrite goes through :func:`replace_table` (same
    single-writer posture as ``upsert_by_key``); on a partitioned
    table run it per partition directory, whose hidden siblings the
    table's partition discovery skips.
    """
    from ..session import parquet_file_sizes

    path = live_table(path)
    total = sum(parquet_file_sizes(path) or ())
    n_files = max(1, -(-total // target_file_bytes))
    replace_table(spark.read.parquet(str(path)).repartition(n_files), path)
    return n_files
