"""W2: sensor CSV consolidation (SURVEY.md §2 J3/G5-G7/G14/P4/A6, §3.2,
§7.4 item 1 — the data-dependent-schema merge).

Per sensor, successive daily exports are folded left-to-right through a
full-outer join on Timestamp:

- overlapping cells keep the EXISTING value, fill from the incoming
  file (G7 coalesce — reference
  utils/20251223-csv-to-separate-sensors.py:181-183);
- cells where both sides are non-null and genuinely disagree (G5
  np.isclose semantics — the standardized variant per SURVEY §7.4.1)
  materialize the incoming value into a dynamically named conflict
  column ``!A! <measure>``, ``!B! <measure>``, ... (G14);
- all-null columns are pruned at the end (P4);
- output column order is Timestamp, regular measures, then conflict
  columns sorted by name (P1).

Spark posture: the conflict columns make the output schema
data-dependent, which a static Spark plan cannot express, so ONE probe
action decides the schema.  :func:`merge_step` is the executable
step-wise specification (one full-outer join + probe per file, the
reference's literal fold).  The production core collapses the fold
algebraically into one union + one Timestamp-keyed aggregation (see
:func:`merge_sensor_frames`, property-tested equivalent to the
step-wise fold), and its single probe returns both the conflict flags
and the per-measure non-null counts (a conflict column is non-null
exactly where its flag is set, so P4 pruning needs no pass of its own).

:func:`consolidate_sensors` reads every header on the driver, unions the
sensor's per-file scans tagged with the file rank, and runs the
within-file keep-last dedup once over the union, partitioned by
``(rank, Timestamp)`` on top of the aggregation's own ``Timestamp``
exchange.  One sensor therefore costs the same few jobs (the probe
and the write) whatever its number of exports.  At 100 TB scale with
many sensors the union scan is embarrassingly parallel and the single
exchange shuffles each sensor's rows once.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import conflict, conflict_sql, conflict_tag
from ..operators.dedup import dedup_keep_last
from ..sources.csv_normalized import read_sensor_header, sensor_files, sensor_rows


def _is_conflict_col(name: str) -> bool:
    return name.startswith("!")


def merge_step(
    combined: DataFrame,
    incoming: DataFrame,
    next_conflict_idx: int,
) -> tuple[DataFrame, int]:
    """One fold step: full-outer join + coalesce + conflict detection.

    Returns the merged frame and the next conflict-column index.
    """
    regular = [c for c in combined.columns if c != "Timestamp" and not _is_conflict_col(c)]
    common = [c for c in incoming.columns if c in regular]
    new_only = [c for c in incoming.columns if c != "Timestamp" and c not in regular]

    renamed = incoming.select(
        "Timestamp", *[F.col(c).alias(f"__new_{c}") for c in common + new_only]
    )
    joined = combined.join(renamed, on="Timestamp", how="full")

    # One probe pass: which common columns have >= 1 genuine conflict?
    # (reference computes any() before materializing the column —
    # utils/20251223-csv-to-separate-sensors-polars.py:182-196).
    conflict_conds = {
        c: conflict(F.col(c), F.col(f"__new_{c}"))
        & F.col(c).isNotNull()
        & F.col(f"__new_{c}").isNotNull()
        for c in common
    }
    if conflict_conds:
        probe = joined.agg(
            *[F.max(cond.cast("int")).alias(c) for c, cond in conflict_conds.items()]
        ).first()
        conflicted = [c for c in common if probe[c] == 1]
    else:
        conflicted = []

    out_cols: list[F.Column] = [F.col("Timestamp")]
    for c in combined.columns:
        if c == "Timestamp":
            continue
        if c in common:
            out_cols.append(F.coalesce(F.col(c), F.col(f"__new_{c}")).alias(c))
        else:
            out_cols.append(F.col(c))
    for c in new_only:
        out_cols.append(F.col(f"__new_{c}").alias(c))
    for c in conflicted:
        tag = conflict_tag(next_conflict_idx)
        next_conflict_idx += 1
        out_cols.append(
            F.when(conflict_conds[c], F.col(f"__new_{c}")).alias(f"{tag} {c}")
        )
    return joined.select(*out_cols), next_conflict_idx


def drop_all_null_columns(df: DataFrame) -> DataFrame:
    """P4/A9: prune columns other than Timestamp with zero non-null
    values (one agg pass)."""
    candidates = [c for c in df.columns if c != "Timestamp"]
    if not candidates:
        return df
    counts = df.agg(*[F.count(F.col(f"`{c}`")).alias(c) for c in candidates]).first()
    survivors = [c for c in candidates if counts[c] > 0]
    return df.select("Timestamp", *[F.col(f"`{c}`") for c in survivors])


def order_columns(df: DataFrame) -> DataFrame:
    """P1: Timestamp, regular measures (first-seen order), conflicts last
    sorted by name (utils/20251223-csv-to-separate-sensors.py:209-221)."""
    regular = [c for c in df.columns if c != "Timestamp" and not _is_conflict_col(c)]
    conflicts = sorted(c for c in df.columns if _is_conflict_col(c))
    return df.select("Timestamp", *[F.col(f"`{c}`") for c in regular + conflicts])


def _ranked_union(
    frames: Sequence[DataFrame],
    per_file_cols: Sequence[Sequence[str]],
    jdx: dict[str, int],
    *carry: str,
) -> DataFrame:
    """Tag each frame with its file rank as a literal and union them,
    measure c renamed ``__m_<jdx[c]>`` (null where a file lacks it)."""
    tagged = [
        f.select(
            F.lit(i).alias("__rank"),
            "Timestamp",
            *carry,
            *[F.col(f"`{c}`").alias(f"__m_{jdx[c]}") for c in cols],
        )
        for i, (f, cols) in enumerate(zip(frames, per_file_cols))
    ]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), tagged)


def _measure_index(per_file_cols: Sequence[Sequence[str]]) -> dict[str, int]:
    """Measure -> index, in first-seen order across files."""
    jdx: dict[str, int] = {}
    for cols in per_file_cols:
        for c in cols:
            jdx.setdefault(c, len(jdx))
    return jdx


def _merge_ranked(
    u: DataFrame,
    per_file_cols: Sequence[Sequence[str]],
    jdx: dict[str, int],
) -> DataFrame:
    """The merge core over a ranked union (``__rank``, Timestamp,
    ``__m_<j>``) that is unique on (rank, Timestamp); rows come back in
    no particular order.  Runs one action, the schema probe (none when
    there is nothing to probe)."""
    # Potential conflict sites (s, c): column c arrives in file s AND
    # was already present in some earlier file — the only pairs where
    # merge_step could have raised a conflict.  Order matches the
    # fold: step-major, then the incoming file's own column order.
    seen = set(per_file_cols[0])
    potential: list[tuple[int, str]] = []
    for s in range(1, len(per_file_cols)):
        potential += [(s, c) for c in per_file_cols[s] if c in seen]
        seen |= set(per_file_cols[s])

    # The expressions are SQL text: one parse on the JVM each, where the
    # Column API pays a Py4J round trip per operator (thousands per
    # sensor, most of the driver's time).
    aggs = [
        f"min(IF(__m_{j} IS NULL, NULL, named_struct('r', __rank, 'v', __m_{j})))"
        f" AS __first_{j}"
        for j in jdx.values()
    ] + [
        # (rank, Timestamp) unique per the dedup contract, so max()
        # selects THE value file s holds at this Timestamp (or null).
        f"max(IF(__rank = {s}, __m_{jdx[c]}, NULL)) AS __at_{s}_{jdx[c]}"
        for s, c in potential
    ]
    agg = u.groupBy("Timestamp").agg(*[F.expr(e) for e in aggs])

    # merge_step's test verbatim: accumulated existed before step s
    # (first rank < s), incoming non-null, genuinely disagree — same
    # argument order into the tolerance (RTOL scales |incoming|).
    conds: dict[tuple[int, str], str] = {}
    for s, c in potential:
        first, vs = f"__first_{jdx[c]}", f"__at_{s}_{jdx[c]}"
        conds[s, c] = f"{first}.r < {s} AND {vs} IS NOT NULL AND " + conflict_sql(
            f"{first}.v", vs
        )
    # ONE probe action: which measures hold any value (P4) and which
    # (step, column) sites conflict.  A conflict column is non-null
    # exactly where its flag is set, so it never needs pruning.
    probe_cols = [f"count(__first_{j}) AS n_{j}" for j in jdx.values()] + [
        f"bool_or({conds[s, c]}) AS p_{s}_{jdx[c]}" for s, c in potential
    ]
    probe = agg.selectExpr(*probe_cols).first() if probe_cols else None
    kept = [c for c, j in jdx.items() if probe[f"n_{j}"] > 0]
    conflicted = [(s, c) for s, c in potential if probe[f"p_{s}_{jdx[c]}"]]

    out_cols = [F.col("Timestamp")] + [
        F.expr(f"__first_{jdx[c]}.v").alias(c) for c in kept
    ]
    for idx, (s, c) in enumerate(conflicted):
        tag = conflict_tag(idx)
        out_cols.append(
            F.expr(f"IF({conds[s, c]}, __at_{s}_{jdx[c]}, NULL)").alias(f"{tag} {c}")
        )
    return order_columns(agg.select(*out_cols))


def merge_sensor_frames(frames: Sequence[DataFrame]) -> DataFrame:
    """Merge normalized per-file frames (already deduped per file —
    (file, Timestamp) is unique) in file order; then prune, order, and
    sort by Timestamp (O1).

    Round 7: the left-to-right fold of :func:`merge_step` (n-1
    full-outer joins, n-1 probe actions, each probe recompiling and
    re-running the whole prefix) COLLAPSES ALGEBRAICALLY into one
    union + one keyed aggregation, because keep-existing coalesce
    makes the accumulated value of column c a constant of the fold:
    it is always the value from the FIRST file (lowest rank) that has
    c non-null at that Timestamp.  Therefore the conflict test at
    step s — accumulated vs incoming — is exactly first-non-null vs
    file s's value, computable per row from the (rank, value) set
    without ever materializing the intermediate folds: depth 1, a
    single Timestamp-keyed shuffle, and ONE probe action for every
    (step, column) conflict decision and every measure's non-null
    count at once (merge_step remains as the executable step-wise
    specification; the equivalence is property-tested in
    tests/test_properties.py).

    Scale posture: 100 TB of exports is one union scan + one
    hash-aggregate on Timestamp (map-side partial per file-partition),
    versus n-1 shuffling joins whose lineage the old fold had to
    localCheckpoint every 4 steps.
    """
    per_file_cols = [[c for c in f.columns if c != "Timestamp"] for f in frames]
    jdx = _measure_index(per_file_cols)
    u = _ranked_union(frames, per_file_cols, jdx)
    return _merge_ranked(u, per_file_cols, jdx).orderBy("Timestamp")


def consolidate_sensors(
    spark: SparkSession, input_dir: str
) -> dict[str, DataFrame]:
    """Full W2 entry point: group files by sensor (S5), read and check
    every header on the driver, scan and normalize each file (S4), and
    merge per sensor.  Returns {sensor: merged frame}, rows in no
    particular order (sort when writing: the CLI sorts its single
    output partition, which needs no range-sampling job).

    Raises ``SensorFileError`` (``sources/csv_normalized.py``) naming
    the file for an export it cannot read, before any Spark job runs."""
    out: dict[str, DataFrame] = {}
    for sensor, files in sensor_files(input_dir).items():
        headers = [read_sensor_header(f.path) for f in files]
        per_file_cols = [h.measures for h in headers]
        jdx = _measure_index(per_file_cols)
        scans = [sensor_rows(spark, f.path, h) for f, h in zip(files, headers)]
        # Hash-partitioning on Timestamp alone satisfies both the
        # (rank, Timestamp) dedup window and the Timestamp aggregation:
        # one exchange for the whole sensor.
        u = _ranked_union(scans, per_file_cols, jdx, "__order").repartition("Timestamp")
        u = dedup_keep_last(u, ["__rank", "Timestamp"], [F.col("__order")]).drop("__order")
        out[sensor] = _merge_ranked(u, per_file_cols, jdx)
    return out
