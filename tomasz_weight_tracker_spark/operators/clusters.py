"""Connected components over a pair graph: near-dup PAIRS -> duplicate
CLUSTERS (pick one canonical doc per cluster).

The LSH/Jaccard/cosine operators emit candidate pairs; production
dedup needs the transitive closure — if A~B and B~C, all three share
one cluster even though (A, C) was never a candidate.

Spark-first strategy: iterative min-label propagation (the standard
large-graph connected-components algorithm, e.g. GraphFrames' and
GraphX's CC):

    label(v) <- min(label(v), min over neighbors u of label(u))

repeated until no label changes.  Each round is two hash joins + an
aggregation — all shuffle on the node id, so consecutive rounds reuse
the same partitioning.  ``localCheckpoint`` after each round truncates
the lineage (an iterative plan would otherwise grow exponentially).
Converges in O(diameter) rounds; near-dup graphs are dense cliques
with tiny diameters, so 2-4 rounds in practice.

This is the engine's designated "iterative algorithm" surface — the
driver loop inspects a convergence aggregate between plan submissions,
exactly like the sensor-merge fold inspects schemas (SURVEY §3.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Returns (id, component) with component = min node id reachable.

    ``pairs`` is an undirected edge list; isolated nodes absent from it
    simply keep their own id (join your full node set afterwards).

    Min-label propagation advances one hop per round, so convergence
    needs O(graph diameter) rounds.  If labels are still changing when
    ``max_iterations`` is exhausted the result would be silently WRONG
    (partially merged components), so we raise instead — callers with a
    genuinely deep graph should raise the cap (cost is per-round, not
    per-node) or pre-contract obvious cliques.
    """
    # Materialize the edge list ONCE (eager, synchronous): edges feed
    # every propagation round, and without this the full upstream
    # pair-generation pipeline (LSH banding, similarity scoring, ...)
    # re-executes per round — measured 8-13 s -> ~3 s at sf0.01 for
    # dup_clusters.  localCheckpoint rather than cache: it is eager,
    # so there is no lazy-block race, and it truncates the lineage the
    # iterative loop would otherwise replay.
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    ).localCheckpoint()
    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    changed = 0
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.v == labels.id)
            .groupBy(F.col("u").alias("id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        updated = (
            labels.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
                (F.coalesce("nbr_min", F.col("component")) < F.col("component")).alias(
                    "__changed"
                ),
            )
        ).localCheckpoint()
        changed = updated.filter(F.col("__changed")).limit(1).count()
        labels = updated.drop("__changed")
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations (labels still changing); the graph diameter "
            "exceeds the cap — raise max_iterations"
        )
    return labels


def sql_connected_components(pairs: str, out: str = "comp") -> str:
    """DuckDB twin of :func:`connected_components` as a recursive-CTE
    walk (the query needs ``WITH RECURSIVE``): CTEs sym, nodes, walk and
    ``out`` = (id, component = min reachable id) over the (u, v) edges
    of CTE ``pairs``."""
    return f"""sym AS (SELECT u, v FROM {pairs} UNION SELECT v, u FROM {pairs}),
    nodes AS (SELECT DISTINCT u AS id FROM sym),
    walk AS (
      SELECT id, id AS reach FROM nodes
      UNION
      SELECT w.id, s.v AS reach FROM walk w JOIN sym s ON s.u = w.reach
    ),
    {out} AS (SELECT id, min(reach) AS component FROM walk GROUP BY id)"""


def canonicalize(components: DataFrame) -> DataFrame:
    """One row per cluster: (component, n_members, canonical_id=min)."""
    return components.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("id").alias("canonical_id"),
    )
