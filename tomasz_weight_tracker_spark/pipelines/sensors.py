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
data-dependent, which a static Spark plan cannot express — so ONE
cheap probe aggregation (a single ``agg(max(cond))`` pass over the
rank-aggregated frame) decides which conflict columns enter the
schema.  :func:`merge_step` is the executable step-wise specification
(one full-outer join + probe per file, the reference's literal fold);
:func:`merge_sensor_frames` is the production path — the fold
collapsed algebraically into one union + one Timestamp-keyed
aggregation (see its docstring), property-tested equivalent to the
step-wise fold.  At 100 TB scale with many sensors the union scan is
embarrassingly parallel and the single aggregation shuffles each
sensor's rows once.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import conflict, conflict_tag
from ..sources.csv_normalized import normalized_sensor_scan, sensor_files


def _is_conflict_col(name: str) -> bool:
    return name.startswith("!")


def merge_step(
    combined: DataFrame,
    incoming: DataFrame,
    next_conflict_idx: int,
    rtol: float = 1e-5,
    atol: float = 1e-9,
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
        c: conflict(F.col(c), F.col(f"__new_{c}"), rtol, atol)
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


def drop_all_null_columns(df: DataFrame, keep: Sequence[str] = ("Timestamp",)) -> DataFrame:
    """P4/A9: prune columns with zero non-null values (one agg pass)."""
    candidates = [c for c in df.columns if c not in keep]
    if not candidates:
        return df
    counts = df.agg(*[F.count(F.col(f"`{c}`")).alias(c) for c in candidates]).first()
    survivors = [c for c in candidates if counts[c] > 0]
    return df.select(*keep, *[F.col(f"`{c}`") for c in survivors])


def order_columns(df: DataFrame) -> DataFrame:
    """P1: Timestamp, regular measures (first-seen order), conflicts last
    sorted by name (utils/20251223-csv-to-separate-sensors.py:209-221)."""
    regular = [c for c in df.columns if c != "Timestamp" and not _is_conflict_col(c)]
    conflicts = sorted(c for c in df.columns if _is_conflict_col(c))
    return df.select("Timestamp", *[F.col(f"`{c}`") for c in regular + conflicts])


def merge_sensor_frames(
    frames: Sequence[DataFrame], rtol: float = 1e-5, atol: float = 1e-9
) -> DataFrame:
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
    without ever materializing the intermediate folds.  The verdict's
    suggested rank-carrying tree fold would cut sequential depth to
    log2(n); this is the same priority-by-rank idea taken to its
    fixed point — depth 1, a single Timestamp-keyed shuffle, and ONE
    probe action for every (step, column) conflict decision at once
    (merge_step remains as the executable step-wise specification;
    the equivalence is property-tested in tests/test_properties.py).

    Scale posture: 100 TB of exports is one union scan + one
    hash-aggregate on Timestamp (map-side partial per file-partition),
    versus n-1 shuffling joins whose lineage the old fold had to
    localCheckpoint every 4 steps.
    """
    if len(frames) == 1:
        return order_columns(drop_all_null_columns(frames[0])).orderBy("Timestamp")

    per_file_cols = [[c for c in f.columns if c != "Timestamp"] for f in frames]
    measures: list[str] = []  # first-seen order across files
    for cols in per_file_cols:
        for c in cols:
            if c not in measures:
                measures.append(c)
    jdx = {c: j for j, c in enumerate(measures)}

    tagged = [
        f.select(
            F.lit(i).alias("__rank"),
            "Timestamp",
            *[F.col(f"`{c}`").alias(f"__m_{jdx[c]}") for c in cols],
        )
        for i, (f, cols) in enumerate(zip(frames, per_file_cols))
    ]
    u = tagged[0]
    for t in tagged[1:]:
        u = u.unionByName(t, allowMissingColumns=True)

    # Potential conflict sites (s, c): column c arrives in file s AND
    # was already present in some earlier file — the only pairs where
    # merge_step could have raised a conflict.  Order matches the
    # fold: step-major, then the incoming file's own column order.
    seen = set(per_file_cols[0])
    potential: list[tuple[int, str]] = []
    for s in range(1, len(frames)):
        potential += [(s, c) for c in per_file_cols[s] if c in seen]
        seen |= set(per_file_cols[s])

    aggs = [
        F.min(
            F.when(
                F.col(f"__m_{jdx[c]}").isNotNull(),
                F.struct(F.col("__rank").alias("r"), F.col(f"__m_{jdx[c]}").alias("v")),
            )
        ).alias(f"__first_{jdx[c]}")
        for c in measures
    ] + [
        # (rank, Timestamp) unique per the dedup contract, so max()
        # selects THE value file s holds at this Timestamp (or null).
        F.max(F.when(F.col("__rank") == s, F.col(f"__m_{jdx[c]}"))).alias(
            f"__at_{s}_{jdx[c]}"
        )
        for s, c in potential
    ]
    agg = u.groupBy("Timestamp").agg(*aggs)

    def cond(s: int, c: str):
        first, vs = F.col(f"__first_{jdx[c]}"), F.col(f"__at_{s}_{jdx[c]}")
        # merge_step's test verbatim: accumulated existed before step s
        # (first rank < s), incoming non-null, genuinely disagree —
        # same argument order into conflict() (rtol scales |incoming|).
        return (
            first.isNotNull()
            & (first["r"] < s)
            & vs.isNotNull()
            & conflict(first["v"], vs, rtol, atol)
        )

    # ONE probe action decides every conflict column in the schema.
    if potential:
        probe = agg.agg(
            *[
                F.max(cond(s, c).cast("int")).alias(f"p_{s}_{jdx[c]}")
                for s, c in potential
            ]
        ).first()
        conflicted = [(s, c) for s, c in potential if probe[f"p_{s}_{jdx[c]}"] == 1]
    else:
        conflicted = []

    out_cols = [F.col("Timestamp")] + [
        F.col(f"__first_{jdx[c]}")["v"].alias(c) for c in measures
    ]
    for idx, (s, c) in enumerate(conflicted):
        tag = conflict_tag(idx)
        out_cols.append(
            F.when(cond(s, c), F.col(f"__at_{s}_{jdx[c]}")).alias(f"{tag} {c}")
        )
    combined = agg.select(*out_cols)
    combined = drop_all_null_columns(combined)
    return order_columns(combined).orderBy("Timestamp")


def consolidate_sensors(
    spark: SparkSession, input_dir: str
) -> dict[str, DataFrame]:
    """Full W2 entry point: group files by sensor (S5), scan+normalize
    each (S4), fold-merge per sensor.  Returns {sensor: merged frame}."""
    out: dict[str, DataFrame] = {}
    for sensor, files in sensor_files(input_dir).items():
        frames = [normalized_sensor_scan(spark, f.path) for f in files]
        out[sensor] = merge_sensor_frames(frames)
    return out
