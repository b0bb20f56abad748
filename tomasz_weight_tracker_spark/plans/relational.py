"""Relational catalog queries: storage-layout levers (bucketing,
partition pruning), Bloom semi-join pruning and quantile cuts.
"""

from __future__ import annotations

import time

from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import LAYOUT_WRITE_S, dsum, load, register, sql_dsum


# ===========================================================================
# Bucketed co-located join (the zero-exchange join, executed in the gate)
# ===========================================================================

_BUCKETS = 16


@register(
    "bucketed_join_orders",
    f"""
    SELECT c.c_mktsegment, count(*)::BIGINT AS n_orders,
           {sql_dsum('o.o_totalprice')} AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    survey_ids=("J1", "A1"),
    doc="Bucketing executed in the gate: orders and customer are "
    f"written as {_BUCKETS}-bucket tables hashed on the customer key "
    "(operators/layout.write_bucketed, sorted within buckets), then "
    "joined — the join plans with NO exchange on either side "
    "(asserted in tests/test_round6_ops.py; only the final segment "
    "aggregation shuffles, and it moves |segments| rows).  This is "
    "the 100 TB co-location lever: pay one layout write, and every "
    "subsequent customer-keyed join of these tables is shuffle-free "
    "— exactly what Spark bucketing + sortBy buys over raw parquet.  "
    "The oracle joins the ORIGINAL parquet, so the bucketed round "
    "trip is value-checked, not just shape-checked.  The write "
    "happens inside build() against FIXED process-lifetime scratch "
    "with mode=overwrite and fixed table names, so repeated builds "
    "replace rather than accumulate metastore entries / scratch "
    "parquet (round-6 advice); the write's cost is recorded in "
    "LAYOUT_WRITE_S so bench reports write_s and query_s apart.",
)
def q_bucketed_join_orders(spark, sf_dir):
    from ..operators.layout import write_bucketed
    from ..session import fixed_scratch_dir

    d = fixed_scratch_dir("bucketed")
    # widen=False: the load feeds a bucketed WRITE, not per-row compute.
    # A round-robin widen exchange would shuffle the payload an extra
    # time AND multiply the output files (each writer task emits one
    # file per bucket it holds: 32 tasks x 16 buckets = 512 files where
    # one scan task writes 16) — the opposite of guide §6's fewer,
    # larger files.  Measured: write_s 2.7-2.9 -> 1.5-1.7 s at sf0.1.
    orders = load(spark, sf_dir, "orders", widen=False).select(
        "o_custkey", "o_totalprice"
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    t_ord, t_cust = "b_ord_gate", "b_cust_gate"
    t0 = time.time()
    write_bucketed(
        orders, t_ord, ["o_custkey"], _BUCKETS,
        sort_keys=["o_custkey"], path=f"{d}/ord",
    )
    write_bucketed(
        cust, t_cust, ["c_custkey"], _BUCKETS,
        sort_keys=["c_custkey"], path=f"{d}/cust",
    )
    LAYOUT_WRITE_S["bucketed_join_orders"] = round(time.time() - t0, 3)
    o = spark.table(t_ord)
    c = spark.table(t_cust)
    # merge hint: at gate scale Catalyst would broadcast the tiny
    # customer side and never consult the bucketing; at 100 TB neither
    # side broadcasts and SMJ is the real plan — the hint pins that
    # shape so the exchange-free property under test is the one that
    # matters at scale.
    return (
        o.hint("merge").join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
    )


# ===========================================================================
# Partition-pruned scan (directory partitioning, executed in the gate)
# ===========================================================================


@register(
    "partition_pruned_scan",
    """
    SELECT event_type, count(*)::BIGINT AS n,
           sum(floor(value * 1e4)::BIGINT)::BIGINT AS sum_qv
    FROM events
    WHERE event_type = 'purchase' AND value IS NOT NULL
    GROUP BY event_type
    """,
    survey_ids=("P5", "S10"),
    doc="Directory partition pruning executed in the gate: events are "
    "rewritten partitioned by event_type under process-lifetime "
    "scratch, and the query reads back ONE partition — the scan's "
    "PartitionFilters prune the other four directories at planning "
    "time (asserted in tests/test_round6_ops.py), so the read cost "
    "is the selected slice, not the table.  At 100 TB this is the "
    "difference between scanning 20 TB and scanning 100 TB for the "
    "same answer; the oracle aggregates the ORIGINAL unpartitioned "
    "parquet, value-checking the partitioned round trip (including "
    "the partition column's string round-trip through directory "
    "names).  The rewrite inside build() is the measured layout "
    "cost, as with bucketed_join_orders — to a FIXED scratch dir "
    "(mode=overwrite replaces, repeated builds don't accumulate), "
    "with the write's seconds recorded in LAYOUT_WRITE_S.",
)
def q_partition_pruned_scan(spark, sf_dir):
    from ..session import fixed_scratch_dir

    d = fixed_scratch_dir("partscan")
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    t0 = time.time()
    ev.write.mode("overwrite").partitionBy("event_type").parquet(f"{d}/ev")
    LAYOUT_WRITE_S["partition_pruned_scan"] = round(time.time() - t0, 3)
    back = spark.read.parquet(f"{d}/ev")
    return (
        back.filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * F.lit(1e4)).cast("long"))
            .cast("long")
            .alias("sum_qv"),
        )
    )


# ===========================================================================
# Bloom-filter semi-join pruning (round 7c)
# ===========================================================================

_BLOOM_ORACLE = """
    WITH keys AS MATERIALIZED (
        SELECT DISTINCT o_orderkey AS k FROM orders
        WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'),
    meta AS MATERIALIZED (
        SELECT count(*)::BIGINT AS n_keys,
               {word} * greatest(1::BIGINT,
                                 (count(*)::BIGINT * {bpk} + {word} - 1) // {word})
                   AS m_bits
        FROM keys),
    kh AS (SELECT k, {h1} AS h1, {h2} AS h2 FROM keys),
    probes AS (SELECT ((h1 + j * h2) % m_bits) AS pos
               FROM kh CROSS JOIN meta,
                    unnest([{jlist}]) AS t(j)),
    bloom AS MATERIALIZED (
        SELECT pos // {word} AS word,
               bit_or(1::BIGINT << (pos % {word})::INT) AS bits
        FROM probes GROUP BY 1),
    bstats AS (SELECT count(*)::BIGINT AS n_words,
                      coalesce(sum(bit_count(bits)), 0)::BIGINT AS bits_set
               FROM bloom),
    li AS (SELECT l_orderkey AS k, {lh1} AS h1, {lh2} AS h2 FROM lineitem),
    pr AS (SELECT li.k,
                  {passes} AS pass_bloom
           FROM li CROSS JOIN meta),
    mt AS (SELECT pr.k, pr.pass_bloom, keys.k IS NOT NULL AS is_match
           FROM pr LEFT JOIN keys ON pr.k = keys.k)
    SELECT count(*)::BIGINT AS n_probe,
           sum(CASE WHEN pass_bloom THEN 1 ELSE 0 END)::BIGINT AS n_pass_bloom,
           sum(CASE WHEN is_match THEN 1 ELSE 0 END)::BIGINT AS n_match,
           sum(CASE WHEN pass_bloom AND NOT is_match THEN 1 ELSE 0 END)::BIGINT
               AS n_false_pos,
           sum(CASE WHEN is_match AND NOT pass_bloom THEN 1 ELSE 0 END)::BIGINT
               AS n_false_neg,
           (SELECT n_keys FROM meta) AS n_keys,
           (SELECT m_bits FROM meta) AS m_bits,
           (SELECT bits_set FROM bstats) AS bits_set
    FROM mt
"""


def _bloom_oracle() -> str:
    from ..operators.sketches import (
        BLOOM_BITS_PER_KEY,
        BLOOM_K,
        BLOOM_WORD,
        sql_bloom_h1,
        sql_bloom_h2,
    )

    # Each probe j tests bit (h1 + j*h2) % m_bits via a scalar
    # subquery into the bloom CTE (the SQL twin of the broadcast
    # joins on the Spark side).  All sizing/probe constants are
    # interpolated from operators/sketches.py so the helpers, the
    # Spark plan and this oracle can never desynchronize.
    passes = " AND ".join(
        f"(coalesce((SELECT bits FROM bloom "
        f"WHERE word = ((h1 + {j} * h2) % m_bits) // {BLOOM_WORD}), 0) "
        f">> (((h1 + {j} * h2) % m_bits) % {BLOOM_WORD})::INT) & 1 = 1"
        for j in range(BLOOM_K)
    )
    return _BLOOM_ORACLE.format(
        h1=sql_bloom_h1("k"), h2=sql_bloom_h2("k"),
        lh1=sql_bloom_h1("l_orderkey"), lh2=sql_bloom_h2("l_orderkey"),
        passes=passes,
        word=BLOOM_WORD,
        bpk=BLOOM_BITS_PER_KEY,
        jlist=", ".join(str(j) for j in range(BLOOM_K)),
    )


@register(
    "bloom_semijoin_prune",
    _bloom_oracle(),
    survey_ids=("J1", "A1"),
    doc="Bloom-filter semi-join pruning — the star-join "
    "shuffle-avoidance lever Spark's runtime Bloom pruning "
    "(spark.sql.optimizer.runtime.bloomFilter.*) applies inside the "
    "optimizer, made explicit, portable, and MEASURED: a Bloom of "
    "the 1995 orders' keys (md5 double hashing h1 + j*h2 — the "
    "MinHash convention; 62-bit words — DuckDB raises on 1<<63; "
    "data-driven sizing at 16 bits/key so the ~0.2% FP rate of k=4 "
    "probes is scale-invariant instead of saturating at 10x keys) "
    "prunes the lineitem fact side, and the exact broadcast semi-join "
    "replays beside it so false positives are COUNTED in-data and "
    "zero false negatives is an asserted output column, not a hope.  "
    "Scale: the filter is a <=n_keys*16-bit broadcast (KB-scale for "
    "millions of keys); the fact table is pruned BEFORE any exchange "
    "with 4 broadcast word lookups per row; no corpus-keyed shuffle "
    "anywhere (operators/sketches.py bloom helpers).",
)
def q_bloom_semijoin_prune(spark, sf_dir):
    from ..operators.sketches import (
        BLOOM_BITS_PER_KEY,
        BLOOM_K,
        BLOOM_WORD,
        bloom_h1,
        bloom_h2,
    )

    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")

    keys = (
        orders.filter(
            F.col("o_orderdate").between("1995-01-01", "1995-12-31")
        )
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    meta = keys.agg(F.count(F.lit(1)).cast("long").alias("n_keys")).select(
        "n_keys",
        F.expr(
            f"{BLOOM_WORD} * greatest(1L, "
            f"(n_keys * {BLOOM_BITS_PER_KEY} + {BLOOM_WORD - 1}) div {BLOOM_WORD})"
        ).alias("m_bits"),
    )

    kh = keys.crossJoin(F.broadcast(meta)).select(
        "m_bits", bloom_h1(F.col("k")).alias("h1"), bloom_h2(F.col("k")).alias("h2")
    )
    probes = kh.select(
        F.explode(F.array(*[F.lit(j) for j in range(BLOOM_K)])).alias("j"),
        "m_bits",
        "h1",
        "h2",
    ).select(((F.col("h1") + F.col("j") * F.col("h2")) % F.col("m_bits")).alias("pos"))
    bloom = probes.groupBy(
        F.expr(f"pos div {BLOOM_WORD}").alias("word")
    ).agg(
        F.expr(f"bit_or(shiftleft(1L, cast(pos % {BLOOM_WORD} as int)))").alias("bits")
    )
    bstats = bloom.agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.coalesce(F.sum(F.bit_count("bits")), F.lit(0)).cast("long").alias("bits_set"),
    )

    li = lineitem.select(F.col("l_orderkey").alias("k")).crossJoin(
        F.broadcast(meta)
    ).select(
        "k",
        "n_keys",
        "m_bits",
        bloom_h1(F.col("k")).alias("h1"),
        bloom_h2(F.col("k")).alias("h2"),
    )
    p = li
    for j in range(BLOOM_K):
        p = p.withColumn(
            f"w{j}", F.expr(f"((h1 + {j} * h2) % m_bits) div {BLOOM_WORD}")
        ).withColumn(f"b{j}", F.expr(f"cast(((h1 + {j} * h2) % m_bits) % {BLOOM_WORD} as int)"))
        p = p.join(
            F.broadcast(bloom.select(F.col("word").alias(f"w{j}"), F.col("bits").alias(f"bits{j}"))),
            f"w{j}",
            "left",
        )
    pass_expr = None
    for j in range(BLOOM_K):
        t = F.expr(f"(shiftright(coalesce(bits{j}, 0L), b{j}) & 1) = 1")
        pass_expr = t if pass_expr is None else (pass_expr & t)
    mt = p.withColumn("pass_bloom", pass_expr).join(
        F.broadcast(keys.withColumn("is_match", F.lit(True))), "k", "left"
    ).withColumn("is_match", F.coalesce("is_match", F.lit(False)))

    agg = mt.agg(
        F.count(F.lit(1)).cast("long").alias("n_probe"),
        F.sum(F.col("pass_bloom").cast("int")).cast("long").alias("n_pass_bloom"),
        F.sum(F.col("is_match").cast("int")).cast("long").alias("n_match"),
        F.sum((F.col("pass_bloom") & ~F.col("is_match")).cast("int"))
        .cast("long")
        .alias("n_false_pos"),
        F.sum((F.col("is_match") & ~F.col("pass_bloom")).cast("int"))
        .cast("long")
        .alias("n_false_neg"),
    )
    # n_keys/m_bits come from meta directly (NOT first() over the probe
    # rows) so the empty-tables day-one state yields 0/62 like the
    # oracle's scalar subqueries, not NULLs.
    return agg.crossJoin(F.broadcast(meta)).crossJoin(F.broadcast(bstats)).select(
        "n_probe",
        "n_pass_bloom",
        "n_match",
        "n_false_pos",
        "n_false_neg",
        "n_keys",
        "m_bits",
        "bits_set",
    )


# ===========================================================================
# Exact decile cuts at scale (the documented ntile ceiling, fixed)
# ===========================================================================


@register(
    "decile_cut_values",
    """
    WITH vc AS (
        SELECT event_type, value, count(*)::BIGINT AS c
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type, value
    ), cum AS (
        SELECT event_type, value, c,
               sum(c) OVER (PARTITION BY event_type ORDER BY value
                            ROWS UNBOUNDED PRECEDING) AS cc
        FROM vc
    ), n AS (
        SELECT event_type, sum(c)::BIGINT AS n FROM vc GROUP BY event_type
    ), tgt AS (
        SELECT n.event_type, u.d::BIGINT AS decile,
               ((u.d * n.n + 9) // 10)::BIGINT AS k
        FROM n, unnest(range(1, 10)) AS u(d)
    )
    SELECT t.event_type, t.decile, min(c2.value) AS cut_value
    FROM tgt t JOIN cum c2
      ON c2.event_type = t.event_type AND c2.cc >= t.k
    GROUP BY t.event_type, t.decile
    """,
    survey_ids=("A1", "W3"),
    doc="EXACT decile cut values without a per-group global sort — "
    "the scale fix for value_deciles' documented ntile ceiling (one "
    "task per group, window depth = group rows): collapse to "
    "per-(group, value) COUNTS first (map-side combinable — the "
    "shuffle carries distinct values, not rows), cumulate counts "
    "over the distinct-value frame, and read the 9 order statistics "
    "k = ceil(d*n/10) off the cumulative relation (cut = min value "
    "with cum count >= k, the lower-median discipline of "
    "lm_score_calibrated — rank arithmetic stays in BIGINT, no "
    "float percentile).  The window partition is bounded by a "
    "group's DISTINCT value count, so a 10^9-row group with 10^5 "
    "distinct measurement values costs what the distinct values "
    "cost; the 9-row-per-group target join is a broadcast.  Same "
    "cuts ntile would imply, at distinct-values cost instead of "
    "rows-log-rows.",
)
def q_decile_cut_values(spark, sf_dir):
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    vc = ev.groupBy("event_type", "value").agg(F.count(F.lit(1)).alias("c"))
    wc = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = vc.withColumn("cc", F.sum("c").over(wc))
    n = vc.groupBy("event_type").agg(F.sum("c").cast("long").alias("n"))
    tgt = n.select(
        F.col("event_type").alias("__et"),
        F.explode(F.sequence(F.lit(1), F.lit(9))).alias("decile"),
        "n",
    ).select(
        "__et",
        F.col("decile").cast("long").alias("decile"),
        F.expr("(decile * n + 9) div 10").cast("long").alias("k"),
    )
    return (
        cum.join(
            F.broadcast(tgt),
            (F.col("event_type") == F.col("__et")) & (F.col("cc") >= F.col("k")),
        )
        .groupBy("event_type", "decile")
        .agg(F.min("value").alias("cut_value"))
    )
