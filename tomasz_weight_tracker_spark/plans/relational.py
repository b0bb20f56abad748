"""Relational catalog queries: subqueries, set operations, rollups,
cubes and grouping sets, snapshot diff and patch, graph queries
(PageRank, triangles, degrees), skew and referential-integrity audits,
data-quality profiles, storage-layout levers (bucketing, partition
pruning, Z-order), Bloom semi-join pruning and quantile cuts.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F
from pyspark.sql import DataFrame, Window

from ..functions import values_close
from ..operators.layout import sql_zorder_key, zorder_key

from .catalog import LAYOUT_WRITE_S, davg, dsum, load, register, sql_davg, sql_dsum, star_preagg


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


@register(
    "rollup_revenue",
    f"""
    SELECT r_name AS region, n_name AS nation,
           grouping(r_name)::BIGINT * 2 + grouping(n_name)::BIGINT AS gid,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    survey_ids=("A1",),
    doc="ROLLUP grouping sets (SURVEY §2.4 'not present' row — free in "
    "Spark): revenue at (region, nation), (region), and grand-total "
    "levels, disambiguated by grouping_id.  Scale shape, two layers: "
    "(1) lineitem pre-aggregates to one DECIMAL partial per "
    "l_orderkey BEFORE the orders join — map-side combinable (order "
    "lines are key-adjacent in the layout), so the big shuffle "
    "carries |orders| narrow rows instead of |lineitem| wide ones "
    "(sf100 measured: 185 s -> 110 s); (2) the rollup runs over the "
    "PRE-AGGREGATED (region, nation) frame, not the fact join — "
    "Expand multiplies its input by the number of grouping sets, so "
    "expanding the 25-row aggregate moves that 3x from |fact| to "
    "|groups|.  Exactness is preserved through both layers because "
    "the partials stay DECIMAL (exact, re-aggregable — regrouping "
    "identical addends) until the final cast; the oracle's one-shot "
    "rollup sums the same addends.",
)
def q_rollup_revenue(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    if star_preagg(spark, sf_dir):
        # Orders won't broadcast: shrink the fact shuffle to one decimal
        # partial per order (see catalog.star_preagg for the threshold).
        fact = li.groupBy("l_orderkey").agg(
            F.sum(rev.cast("decimal(18,6)")).alias("__po")
        )
    else:
        fact = li.select("l_orderkey", rev.cast("decimal(18,6)").alias("__po"))
    fine = (
        fact.join(o, fact.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum("__po").alias("__rev"))
    )
    return (
        fine.rollup(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.sum("__rev").cast("double").alias("revenue"),
        )
        .select("region", "nation", "gid", "revenue")
    )


@register(
    "tolerant_equality",
    """
    WITH pairs AS (
      SELECT event_type, value AS a,
             CASE WHEN event_id % 3 = 0 THEN value + value * 0.000005
                  WHEN event_id % 3 = 1 THEN value + 1.0
                  ELSE value END AS b
      FROM events
    )
    SELECT event_type,
           sum(CASE WHEN (a IS NULL AND b IS NULL)
                      OR (a IS NOT NULL AND b IS NOT NULL
                          AND abs(a - b) <= 0.000000001 + 0.00001 * abs(b))
                    THEN 1 ELSE 0 END)::BIGINT AS n_close,
           count(*) AS n
    FROM pairs GROUP BY event_type
    """,
    survey_ids=("G5", "G6"),
    doc="Tolerant equality (np.isclose semantics, the standardized G5/G6 "
    "variant per SURVEY §7.4.1): rel-perturbed values are close, +1.0 "
    "is a conflict.",
)
def q_tolerant_equality(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    b = (
        F.when(F.col("event_id") % 3 == 0, F.col("value") + F.col("value") * 0.000005)
        .when(F.col("event_id") % 3 == 1, F.col("value") + 1.0)
        .otherwise(F.col("value"))
    )
    close = values_close(F.col("value"), b)
    return ev.groupBy("event_type").agg(
        F.sum(F.when(close, 1).otherwise(0)).cast("long").alias("n_close"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "scalar_subquery_avg",
    f"""
    SELECT l.l_partkey AS partkey, count(*) AS n_small,
           {sql_dsum('l.l_extendedprice')} AS small_revenue
    FROM lineitem l
    WHERE l.l_quantity < 0.5 * (
      SELECT sum(l2.l_quantity::DECIMAL(18,4))::VARCHAR::DOUBLE / count(*)
      FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
    )
    GROUP BY l.l_partkey
    """,
    survey_ids=("A8",),
    doc="Correlated scalar subquery (TPC-H Q17 shape): rows below half "
    "their part's average quantity.  Spark expresses it as a broadcast "
    "join against the per-part aggregate (what a decorrelated plan "
    "becomes anyway).",
)
def q_scalar_subquery_avg(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(per_part), li.l_partkey == per_part.pk)
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            dsum("l_extendedprice").alias("small_revenue"),
        )
    )


@register(
    "having_large_orders",
    f"""
    SELECT l_orderkey AS orderkey, {sql_dsum('l_quantity')} AS total_qty,
           count(*) AS n_items
    FROM lineitem GROUP BY l_orderkey
    HAVING sum(l_quantity::DECIMAL(18,4))::VARCHAR::DOUBLE > 150.0
    """,
    survey_ids=("A1", "P5"),
    doc="GROUP BY ... HAVING (TPC-H Q18 shape): orders whose total "
    "quantity exceeds a threshold; the filter runs post-aggregation.",
)
def q_having_large_orders(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_orderkey").alias("orderkey"))
        .agg(dsum("l_quantity").alias("total_qty"), F.count(F.lit(1)).alias("n_items"))
        .filter(F.col("total_qty") > 150.0)
    )


@register(
    "parts_by_type",
    f"""
    SELECT p_type, count(*) AS n_parts,
           {sql_davg('p_retailprice')} AS avg_price,
           max(p_size)::BIGINT AS max_size
    FROM part WHERE p_name LIKE '%a%'
    GROUP BY p_type
    """,
    survey_ids=("A1", "P9"),
    doc="String LIKE predicate + aggregation over the part dimension "
    "(predicate pushes into the parquet scan).",
)
def q_parts_by_type(spark, sf_dir):
    p = load(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_name").like("%a%"))
        .groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            davg("p_retailprice").alias("avg_price"),
            F.max("p_size").cast("long").alias("max_size"),
        )
    )


@register(
    "top_suppliers_per_nation",
    """
    SELECT s_nationkey, s_suppkey, s_acctbal,
           row_number() OVER (PARTITION BY s_nationkey
                              ORDER BY s_acctbal DESC, s_suppkey)::BIGINT AS rnk
    FROM supplier QUALIFY rnk <= 3
    """,
    survey_ids=("O3", "W4"),
    doc="Top-3 suppliers by account balance per nation (supplier "
    "dimension coverage; ranking window).",
)
def q_top_suppliers_per_nation(spark, sf_dir):
    s = load(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").desc(), "s_suppkey")
    return (
        s.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("s_nationkey", "s_suppkey", "s_acctbal", "rnk")
    )


@register(
    "intersect_users",
    """
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
    survey_ids=("U1",),
    doc="INTERSECT row-set operation (SURVEY §2.7 'not present' row — "
    "free in Spark): users with both clicks and purchases.",
)
def q_intersect_users(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return clicks.intersect(purch)


@register(
    "except_users",
    """
    SELECT user_id FROM events WHERE event_type = 'click'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
    survey_ids=("U3",),
    doc="EXCEPT row-set operation: clicking users who never errored.",
)
def q_except_users(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    errs = ev.filter(F.col("event_type") == "error").select("user_id")
    # subtract == SQL EXCEPT (set semantics); exceptAll would be the
    # multiset variant and keeps users whose click count exceeds their
    # error count — not the same operator.
    return clicks.subtract(errs)


@register(
    "in_subquery_orders",
    """
    SELECT o_orderpriority, count(*) AS n
    FROM orders
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem WHERE l_quantity > 45
    )
    GROUP BY o_orderpriority
    """,
    survey_ids=("J4",),
    doc="IN-subquery (TPC-H Q4 shape) -> left-semi join in Spark.",
)
def q_in_subquery_orders(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    big = li.filter(F.col("l_quantity") > 45).select("l_orderkey")
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_SQL_API_TEXT = """
    SELECT o_orderpriority, count(*) AS n_orders,
           min(o_orderdate) AS first_date, max(o_orderdate) AS last_date
    FROM orders GROUP BY o_orderpriority
"""


@register(
    "sql_api_order_priorities",
    _SQL_API_TEXT,
    survey_ids=("A1",),
    doc="The spark.sql() surface: the SAME ANSI text runs as Spark SQL "
    "over registered temp views and as the DuckDB oracle — dialect-"
    "portable SQL is itself part of the engine's API.",
)
def q_sql_api_order_priorities(spark, sf_dir):
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SQL_API_TEXT)


@register(
    "json_extract_fields",
    """
    WITH j AS (
      SELECT event_id,
             '{"t":"' || event_type || '","u":' || user_id::VARCHAR
             || ',"v":' || floor(value * 100)::BIGINT::VARCHAR || '}' AS payload
      FROM events
    )
    SELECT event_id,
           json_extract_string(payload, '$.t') AS t,
           json_extract(payload, '$.u')::BIGINT AS u,
           json_extract(payload, '$.v')::BIGINT AS v
    FROM j
    """,
    survey_ids=("G3",),
    doc="Semi-structured JSON columns: serialize event fields to a JSON "
    "payload, then parse them back with a typed schema (from_json) — "
    "the pattern for ingesting JSON event streams.  Values quantized "
    "so the round-trip is exact.",
)
def q_json_extract_fields(spark, sf_dir):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    ev = load(spark, sf_dir, "events")
    payload = F.concat(
        F.lit('{"t":"'), F.col("event_type"),
        F.lit('","u":'), F.col("user_id").cast("string"),
        F.lit(',"v":'), F.floor(F.col("value") * 100).cast("long").cast("string"),
        F.lit("}"),
    )
    schema = StructType(
        [StructField("t", StringType()), StructField("u", LongType()), StructField("v", LongType())]
    )
    parsed = F.from_json(payload, schema)
    return ev.select(
        "event_id",
        parsed["t"].alias("t"),
        parsed["u"].alias("u"),
        parsed["v"].alias("v"),
    )


@register(
    "salted_event_totals",
    """
    SELECT event_type, count(*) AS n,
           sum(floor(value * 1000000)::BIGINT)::BIGINT AS v_sum_e6
    FROM events GROUP BY event_type
    """,
    survey_ids=("A1",),
    doc="Skew-safe two-phase aggregation through the salted path: "
    "phase 1 groups by (event_type, salt) spreading any hot key over "
    "16 reducers, phase 2 re-aggregates the tiny partials.  The "
    "decomposable aggregates (count, exact integer sum) make the "
    "result salt-invariant, so the oracle is the plain GROUP BY.",
)
def q_salted_event_totals(spark, sf_dir):
    from ..operators.layout import salted_agg

    ev = load(spark, sf_dir, "events")
    q = ev.select(
        "event_type", F.floor(F.col("value") * 1000000).cast("long").alias("q")
    )
    out = salted_agg(q, ["event_type"], {"n": ("q", "count"), "v_sum_e6": ("q", "sum")})
    return out.select("event_type", F.col("n").cast("long"), F.col("v_sum_e6").cast("long"))


# ===========================================================================
# Round-2 widening: CUBE, ntile, deterministic sampling, edit distance,
# nested aggregation.
# ===========================================================================


@register(
    "cube_returnflag_status",
    f"""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag)::BIGINT * 2 + grouping(l_linestatus)::BIGINT AS gid,
           count(*) AS n, {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    survey_ids=("A1",),
    doc="CUBE grouping sets: all 4 grouping combinations in ONE pass, "
    "with grouping() flags distinguishing NULL-as-total from NULL "
    "data.  Scale shape (the rollup_revenue discipline): count and "
    "decimal-sum are re-aggregable, so the CUBE's Expand runs over "
    "the PRE-AGGREGATED 6-row (returnflag, status) frame, not the "
    "fact scan — Expand's input multiplier moves from |lineitem| to "
    "|groups|.  Data-NULL keys survive the pre-agg as ordinary "
    "groups, so grouping() semantics are unchanged.",
)
def q_cube_returnflag_status(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    gid = (
        F.grouping("l_returnflag").cast("long") * 2
        + F.grouping("l_linestatus").cast("long")
    )
    fine = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("__qty"),
    )
    return (
        fine.cube("l_returnflag", "l_linestatus")
        .agg(
            gid.alias("gid"),
            F.sum("__n").alias("n"),
            F.sum("__qty").cast("double").alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")
    )


@register(
    "user_event_breakdown",
    """
    WITH c AS (
      SELECT user_id, event_type, count(*) AS n
      FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           list(event_type || ':' || n::VARCHAR ORDER BY event_type) AS breakdown,
           sum(n)::BIGINT AS total
    FROM c GROUP BY user_id
    """,
    survey_ids=("A1", "G3"),
    doc="Nested aggregation into an ordered array column: per-user "
    "(event_type, count) breakdown as a sorted array — the "
    "denormalized per-entity feature-list shape training pipelines "
    "emit.  Pre-partitioning by user_id alone satisfies BOTH "
    "aggregates' clustering (same-user rows are co-located, hence "
    "same-(user,type) rows are too), so the plan has exactly ONE "
    "exchange — hash(user, type) partitioning would NOT be reusable "
    "by the second aggregate.",
)
def q_user_event_breakdown(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    c = (
        ev.repartition("user_id")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # Sort the STRUCTS (by event_type, the first field) and only then
    # project to the display string: sorting the concatenated
    # 'type:count' strings would diverge from ORDER BY event_type
    # whenever one type is a proper prefix of another (':' sorts above
    # digits).  (event_type, n) pairs are unique per user, so the
    # struct sort is total.
    pairs = F.array_sort(F.collect_list(F.struct("event_type", "n")))
    return c.groupBy("user_id").agg(
        F.transform(
            pairs,
            lambda s: F.concat(s["event_type"], F.lit(":"), s["n"].cast("string")),
        ).alias("breakdown"),
        F.sum("n").cast("long").alias("total"),
    )


@register(
    "grouping_sets_revenue",
    f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus)::BIGINT AS gid,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS revenue,
           count(*)::BIGINT AS n_items
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    survey_ids=("A1",),
    doc="Explicit GROUPING SETS (vs the catalog's CUBE/ROLLUP cousins): "
    "three chosen granularities in one pass.  grouping_id "
    "disambiguates NULL-as-group-all from NULL data in both engines.  "
    "Scale shape (the rollup_revenue discipline): the sets are all "
    "coarsenings of (returnflag, status), and decimal-sum/count "
    "re-aggregate exactly, so Expand runs over the pre-aggregated "
    "6-row frame — one fact shuffle at the finest grain, grouping-set "
    "multiplication paid only on |groups|.",
)
def q_grouping_sets_revenue(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    fine = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,6)"
            )
        ).alias("__rev"),
        F.count(F.lit(1)).alias("__n"),
    )
    return fine.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.grouping_id().cast("long").alias("gid"),
        F.sum("__rev").cast("double").alias("revenue"),
        F.sum("__n").alias("n_items"),
    )


_PR_ITERS = 3


def _pagerank_oracle() -> str:
    # Node ids: part p -> 2p, supplier s -> 2s+1 (disjoint domains).
    # Symmetric edges => no dangling nodes, every node keeps rank mass.
    base = """
    WITH edges AS (
        SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        FROM lineitem
        UNION
        SELECT DISTINCT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst
        FROM lineitem
    ), deg AS (
        SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY src
    ), r0 AS (
        SELECT src AS id, 1.0::DOUBLE AS rank FROM deg
    )
    """
    prev = "r0"
    steps = []
    for i in range(1, _PR_ITERS + 1):
        steps.append(
            f""", r{i} AS (
        SELECT e.dst AS id,
               0.15::DOUBLE + 0.85::DOUBLE *
               (sum(floor((r.rank / d.outdeg) * 100000000.0)::BIGINT)::DOUBLE
                / 100000000.0) AS rank
        FROM edges e
        JOIN {prev} r ON e.src = r.id
        JOIN deg d ON e.src = d.src
        GROUP BY e.dst
    )"""
        )
        prev = f"r{i}"
    return (
        base
        + "".join(steps)
        + f"""
    SELECT id,
           CASE WHEN id % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
           rank
    FROM {prev}
    """
    )


@register(
    "pagerank_part_supplier",
    _pagerank_oracle(),
    survey_ids=("J1", "A1"),
    doc="Fixed-iteration (3) PageRank over the bipartite part<->supplier "
    "graph from lineitem, damping 0.85.  Each iteration is one keyed "
    "join (edges shuffled once on src, rank/deg co-keyed) plus a "
    "group-by on dst — the standard distributed PageRank round; "
    "symmetric edges mean no dangling-mass correction is needed.  "
    "Contributions are floor(x*1e8)-quantized in INTEGER arithmetic "
    "and summed as BIGINT in BOTH engines, so the per-round totals "
    "are exact and order-independent — an iterative float algorithm "
    "that is still value-hash-checkable.  (Integer floor, NOT a "
    "double->decimal cast: IEEE multiply+floor are bit-identical "
    "across engines, while decimal casts of doubles round from "
    "different representations.)  Edge count is vocabulary-bounded "
    "(distinct part-supplier pairs), not row-bounded: 100 TB of "
    "lineitem first collapses through the DISTINCT.",
)
def q_pagerank_part_supplier(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    fwd = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    # edges/deg feed every iteration.  NOT cached: both end at an
    # exchange (distinct / aggregate), so AQE exchange reuse dedups
    # them at the stage-graph level — a lazy .cache() here RACED when
    # the nested iteration plan's branch stages scanned it
    # concurrently, re-running the lineitem DISTINCT several times
    # (10x soak: 55 s cached-with-race vs 15 s uncached+hash-join).
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = deg.select(F.col("src").alias("id"), F.lit(1.0).alias("rank"))
    for _ in range(_PR_ITERS):
        # shuffle_hash: SMJ would re-SORT the 2|E|-row edge relation
        # every iteration (the exchange is reused, sorts are not);
        # hash-building the node-sized rank/deg side skips that — and
        # unlike a broadcast it neither funnels |V| rows through the
        # driver per iteration (measured 2.6x slower) nor breaks at
        # billion-node scale.
        contrib = (
            edges.join(
                ranks.hint("shuffle_hash"), edges.src == ranks.id
            )
            .join(deg.hint("shuffle_hash"), "src")
            .select(
                F.col("dst").alias("id"),
                F.floor((F.col("rank") / F.col("outdeg")) * F.lit(1e8)).alias("c"),
            )
        )
        ranks = contrib.groupBy("id").agg(
            (
                F.lit(0.15)
                + F.lit(0.85) * (F.sum("c").cast("double") / F.lit(1e8))
            ).alias("rank")
        )
    return ranks.select(
        "id",
        F.when(F.col("id") % 2 == 0, F.lit("part"))
        .otherwise(F.lit("supplier"))
        .alias("kind"),
        "rank",
    )


_DIFF_DELETE, _DIFF_CHANGE, _DIFF_INSERT = 97, 31, 113


def _diff_new_sql() -> str:
    return f"""
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % {_DIFF_CHANGE} = 0
                    THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % {_DIFF_DELETE} <> 0
        UNION ALL
        SELECT -(o_orderkey + 1), o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % {_DIFF_INSERT} = 0
    """


@register(
    "snapshot_diff",
    f"""
    WITH new_snap AS ({_diff_new_sql()})
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS status,
           concat_ws(',',
               CASE WHEN o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
                         AND o.o_orderstatus <> n.o_orderstatus
                    THEN 'o_orderstatus' END,
               CASE WHEN o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
                         AND o.o_totalprice <> n.o_totalprice
                    THEN 'o_totalprice' END) AS changed_cols
    FROM (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders) o
    FULL OUTER JOIN new_snap n USING (o_orderkey)
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_orderstatus <> n.o_orderstatus
       OR o.o_totalprice <> n.o_totalprice
    """,
    survey_ids=("J3", "U3"),
    doc="Table-version reconciliation (CDC diff): align two snapshots "
    "on the key, classify each row added/removed/changed, and name "
    "the changed columns.  The audit primitive behind incremental "
    "syncs and MERGE validation: ONE keyed shuffle however wide the "
    "table (side-tagged union + keyed (sort) aggregate — struct max "
    "buffers aren't hash-aggregable — same bytes moved as a "
    "full-outer join's two exchanges, minus the join's sorts; "
    "sound because the key is unique within each snapshot), column "
    "comparison stays in codegen, and unchanged rows are filtered "
    "before leaving the aggregate — output is proportional to the "
    "DELTA, not the table.  The 'new' snapshot is derived in-query "
    "(delete/update/insert by key residues) so both engines "
    "construct it identically.",
)
def q_snapshot_diff(spark, sf_dir):
    # orders feeds three branches (old side, the delete/update arm, the
    # insert arm).  Deliberately NOT cached: a 3-column pruned parquet
    # scan x3 is cheaper than one scan + an InMemoryRelation build + 3
    # cache reads (measured 1.45 -> 1.20 s at sf0.1), and at 100 TB a
    # table-sized cache would spill outright (guide-§5 trade: cache
    # only when recompute beats the memory pressure — it doesn't here).
    # widen=False: the per-row work before the union's exchange is a
    # couple of modulo filters — the round-robin widen exchange of the
    # payload costs more than it parallelizes (measured median 1.87 ->
    # 0.74 s at sf0.1 on the join shape, identical checksum).
    old, new_snap = _diff_sides(spark, sf_dir)
    return (
        _diff_aligned(old, new_snap)
        .filter(
            F.col("o").isNull()
            | F.col("n").isNull()
            | _diff_status_ne()
            | _diff_price_ne()
        )
        .select(
            "o_orderkey",
            F.when(F.col("o").isNull(), "added")
            .when(F.col("n").isNull(), "removed")
            .otherwise("changed")
            .alias("status"),
            F.concat_ws(
                ",",
                F.when(_diff_both() & _diff_status_ne(), "o_orderstatus"),
                F.when(_diff_both() & _diff_price_ne(), "o_totalprice"),
            ).alias("changed_cols"),
        )
    )


# Shared by snapshot_diff / snapshot_patch_apply: the two snapshot
# sides, and their key alignment as ONE side-tagged union + keyed
# aggregate instead of a full-outer SortMergeJoin.  Equivalent because
# o_orderkey is unique WITHIN each side (orders' key; the new side is a
# residue-filtered copy plus negated insert keys), so max(when(side))
# picks each side's single row and (o IS NULL / n IS NULL / both) are
# exactly the full-outer join's row classes.  Same shuffle bytes (both
# sides move once, keyed), but ONE exchange serves both sides and the
# aggregate pays one sort where the SMJ paid an exchange + sort PER
# side (struct max buffers aren't hash-aggregable, so this plans as
# SortAggregate — still strictly less work than the join).  Measured
# 0.74 -> 0.52 s at sf0.1, checksum-identical.
# (Lazy functions, not module constants: F.col needs a live session.)
def _diff_both():
    return F.col("o").isNotNull() & F.col("n").isNotNull()


def _diff_status_ne():
    return F.col("o.o_orderstatus") != F.col("n.o_orderstatus")


def _diff_price_ne():
    return F.col("o.o_totalprice") != F.col("n.o_totalprice")


def _diff_sides(spark, sf_dir):
    orders = load(spark, sf_dir, "orders", widen=False).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new_snap = (
        orders.filter(F.col("o_orderkey") % _DIFF_DELETE != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % _DIFF_CHANGE == 0,
                F.col("o_totalprice") + 1.0,
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % _DIFF_INSERT == 0).withColumn(
                "o_orderkey", -(F.col("o_orderkey") + 1)
            )
        )
    )
    return orders, new_snap


def _diff_aligned(old, new_snap):
    """Key-align two snapshots: one side-tagged union + keyed (sort)
    aggregate, equivalent to a full-outer join ONLY under the
    invariant that o_orderkey is UNIQUE and NON-NULL within each side.
    Duplicate keys would be silently collapsed by max() where a join
    would row-multiply; NULL keys would be grouped into one row where
    a full-outer join never matches NULLs.  _diff_sides guarantees the
    invariant today (orders' primary key; the new side is a
    residue-filtered copy plus strictly-negative insert keys) — any
    future edit to _diff_sides must preserve it or switch back to a
    real full-outer join."""
    side = F.struct("o_orderstatus", "o_totalprice")
    tagged = old.select(
        "o_orderkey", F.lit(0).alias("__side"), side.alias("__row")
    ).unionByName(
        new_snap.select(
            "o_orderkey", F.lit(1).alias("__side"), side.alias("__row")
        )
    )
    return tagged.groupBy("o_orderkey").agg(
        F.max(F.when(F.col("__side") == 0, F.col("__row"))).alias("o"),
        F.max(F.when(F.col("__side") == 1, F.col("__row"))).alias("n"),
    )


# ===========================================================================
# Snapshot patch apply (CDC apply: old + diff -> new, round-trip proven)
# ===========================================================================


@register(
    "snapshot_patch_apply",
    f"""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM ({_diff_new_sql()})
    """,
    survey_ids=("J3", "S11", "U3"),
    doc="CDC patch APPLICATION — the other half of snapshot_diff: from "
    "(old, new) a value-carrying patch is extracted (upsert rows with "
    "NEW values for added/changed keys, delete keys for removed "
    "rows), then applied to OLD alone: old MINUS touched keys UNION "
    "upserts.  The oracle is the new snapshot computed directly, so "
    "the exact value hash PROVES the round-trip identity "
    "apply(old, diff(old, new)) == new — the correctness contract "
    "every incremental sync and MERGE pipeline rests on, checked "
    "end-to-end rather than assumed.  Plan shape: a side-tagged "
    "union + keyed (sort) aggregate extracts the patch (the "
    "snapshot_diff alignment — output ∝ delta; the alignment subtree "
    "recomputes once per consumer — upserts, deletes, final union — "
    "by the same measured un-cached trade as snapshot_diff), then "
    "one left-anti + union applies it "
    "— keyed shuffles only; at 100 TB the patch is delta-sized and "
    "the apply is the partition-pruned upsert_by_key path.",
)
def q_snapshot_patch_apply(spark, sf_dir):
    # Un-cached for the same measured reason as q_snapshot_diff: the
    # pruned scan is cheaper to repeat than the cache is to build, and
    # a table-sized cache is the wrong 100 TB shape.  Patch extraction
    # shares snapshot_diff's union+aggregate alignment (same
    # equivalence argument, same measured win over the full-outer SMJ).
    orders, new_snap = _diff_sides(spark, sf_dir)
    aligned = _diff_aligned(orders, new_snap)
    changed = _diff_both() & (_diff_status_ne() | _diff_price_ne())
    # Value-carrying patch: upserts carry the NEW row; deletes carry
    # only the key.  Everything downstream uses ONLY old + patch.
    upserts = aligned.filter(F.col("o").isNull() | changed).select(
        "o_orderkey",
        F.col("n.o_orderstatus").alias("o_orderstatus"),
        F.col("n.o_totalprice").alias("o_totalprice"),
    )
    deletes = aligned.filter(F.col("n").isNull()).select("o_orderkey")
    touched = upserts.select("o_orderkey").unionByName(deletes)
    return orders.join(touched, "o_orderkey", "left_anti").unionByName(upserts)


@register(
    "value_deciles",
    """
    WITH t AS (
        SELECT event_type, value, event_id,
               ntile(10) OVER (PARTITION BY event_type
                               ORDER BY value, event_id) AS decile
        FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, decile::BIGINT AS decile, count(*)::BIGINT AS n,
           min(value) AS min_v, max(value) AS max_v
    FROM t GROUP BY event_type, decile
    """,
    survey_ids=("W3", "A1"),
    doc="Quantile feature binning: ntile(10) per event type assigns "
    "equal-frequency deciles (ties broken by event_id so the binning "
    "is deterministic), then per-bin count/min/max — the cut-point "
    "table feature preprocessing needs.  One keyed sort-window plus "
    "an aggregation reusing the same partitioning; at scale the "
    "group key bounds the window partition, never the corpus.  Soak "
    "cost model: wall = per-GROUP sort depth (rows/|event_type|, one "
    "task per group) over a sub-second floor, so the 10x ratio sits "
    "well under 10 and jitters at the floor — 3-run median 1.7x for "
    "10x data (round-8 re-measure of the r7 one-shot 2.5x: noise, "
    "not growth).  A low-cardinality group key at real scale is the "
    "known ntile ceiling; the fix there is approx percentile cuts "
    "(value_histogram's equi-width twin) or range partitioning.",
)
def q_value_deciles(spark, sf_dir):
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    t = ev.withColumn("decile", F.ntile(10).over(w).cast("long"))
    return t.groupBy("event_type", "decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )


def degree_oriented_edges(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Orient undirected ``(u, v)`` edges from the lower-DEGREE endpoint
    (ties broken by id): returns ``(src, dst, d_dst)`` with
    rank(src) < rank(dst) under rank = (degree, id).

    This is the orientation that makes a wedge join scale-safe: total
    wedge work becomes sum over vertices of outdeg^2 with outdeg
    bounded O(sqrt(m)) amortized (arboricity bound), instead of the
    id-ordered orientation's d(hub)^2 at the highest-degree vertex.
    ``d_dst`` (the destination's degree) is carried so the wedge join
    can rank-order neighbor pairs without a third degree join.

    ``deg`` must hold undirected degrees as ``(node, d)``.
    """
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ranked = edges.join(du, "u").join(dv, "v")
    low_u = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return ranked.select(
        F.when(low_u, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(low_u, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(low_u, F.col("dv")).otherwise(F.col("du")).alias("d_dst"),
    )


# Bipartite-projection degree cap, DATA-DRIVEN (round-6 verdict item
# 5): a part with more than MARGIN x median(suppliers-per-part) is
# dropped before the co-supply pair join (it would emit k(k-1)/2
# edges).  Why the MEDIAN and not a tail quantile: the tail IS what
# the cap must bound, so sizing the cutoff from p99.9 is circular —
# one adversarial hyperedge-part drags p99.9 (and hence the cap) up
# to itself on a small graph and is never dropped; the median is the
# robust location estimate (unmoved by up to half the parts going
# hot), and 16x is the margin that says "an order of magnitude past
# typical co-supply is a hyperedge everyone shares — boilerplate in
# graph form, not signal".  The lower median ((n+1)//2-th smallest,
# INTEGER arithmetic — no float averaging, bit-exact across engines)
# is computed from the degree HISTOGRAM, so the only unpartitioned
# window runs over O(distinct degree values) rows.  TPC-H parts carry
# exactly 4 suppliers, so the derived cap is 16*4 = 64 — precisely
# the round-6 constant; gate values are unchanged, while a skewed
# graph now re-sizes the cap from its own degree profile (the
# graph_degree_profile audit made executable).  The oracle mirrors
# the derivation, so capped results stay hash-exact.
_TRI_CAP_MARGIN = 16


@register(
    "graph_triangle_stats",
    f"""
    WITH ps AS (
        SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ), degp AS (
        SELECT p, count(*)::BIGINT AS c FROM ps GROUP BY p
    ), hist AS (
        SELECT c, count(*)::BIGINT AS n FROM degp GROUP BY c
    ), tot AS (
        SELECT sum(n)::BIGINT AS t FROM hist
    ), cum AS (
        SELECT c, sum(n) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum
        FROM hist
    ), medv AS (
        SELECT min(c)::BIGINT AS med FROM cum, tot WHERE cum >= (t + 1) // 2
    ), capv AS (
        SELECT {_TRI_CAP_MARGIN} * med AS cap FROM medv
    ), psc AS (
        SELECT p, s FROM (
            SELECT p, s, count(*) OVER (PARTITION BY p) AS c FROM ps
        ) WHERE c <= (SELECT cap FROM capv)
    ), edges AS (
        SELECT DISTINCT a.s AS u, b.s AS v
        FROM psc a JOIN psc b ON a.p = b.p AND a.s < b.s
    ), deg AS (
        SELECT node, count(*)::BIGINT AS d
        FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
        GROUP BY node
    ), tri AS (
        SELECT count(*)::BIGINT AS t
        FROM edges e1
        JOIN edges e2 ON e1.v = e2.u
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT count(DISTINCT s) FROM ps)::BIGINT AS n_nodes,
           (SELECT count(*) FROM edges)::BIGINT AS n_edges,
           (SELECT sum((d * (d - 1)) // 2) FROM deg)::BIGINT AS n_wedges,
           (SELECT t FROM tri) AS n_triangles,
           (3.0::DOUBLE * (SELECT t FROM tri))
               / nullif((SELECT sum((d * (d - 1)) // 2) FROM deg), 0)
               AS clustering
    """,
    survey_ids=("J1", "A8"),
    doc="Triangle counting + global clustering coefficient over the "
    "supplier co-supply graph (suppliers adjacent iff they supply a "
    "common part).  The distributed algorithm is DEGREE-ordered "
    "compact-forward (Latapy; the MapReduce form popularized by Suri "
    "& Vassilvitskii's 'Counting Triangles and the Curse of the Last "
    "Reducer'): every edge is oriented from its lower-DEGREE endpoint "
    "(ties by id), and triangles through edge (u,v) = |out(u) ∩ "
    "out(v)| — counted via 64-bit bitmap words, no wedge-row join.  "
    "Why degree order and not id order: intersection work is "
    "sum(outdeg^2), and id-orientation leaves a hub's full degree on "
    "one vertex (d^2 blowup that AQE CANNOT split — it splits a "
    "partition's rows, not the pair emission), while degree-"
    "orientation provably bounds total work at O(m^1.5).  Measured at "
    "sf0.1 (the K1000 co-supply graph, 166M triangles): 19.2 s "
    "round-4 id-ordered wedge join -> 6.5 s.  Row volume collapses "
    "FIRST through DISTINCT (part,supplier): 100 TB of lineitem "
    "contributes only its vocabulary-sized projection.  The remaining "
    "quadratic term was the bipartite projection itself (a part with "
    "k suppliers emits k(k-1)/2 edges); round 6 enforced the cap and "
    "round 7 makes it DATA-DRIVEN: parts with more than "
    f"{_TRI_CAP_MARGIN} x the MEDIAN suppliers-per-part are dropped "
    "before the pair join (count-over-window on p — shares the "
    "join's partitioning, the lsh_candidate_pairs max_bucket "
    "pattern), mirrored in the oracle.  The cap derivation is the "
    "graph_degree_profile audit made executable: degree histogram -> "
    "lower median in integer arithmetic -> margin multiply, an "
    "O(distinct-degrees) computation (see the _TRI_CAP_MARGIN "
    "comment for why the median, not a tail quantile — the tail is "
    "the thing being bounded).  The gate tables' degrees are "
    "near-uniform (median 10-29, max <= 52 across SFs; spec TPC-H is "
    "exactly 4 per part), so the derived cap (160-464, or 64 on spec "
    "data) never binds and gate values match the uncapped round-5 "
    "numbers; a skewed graph re-sizes it automatically, and the "
    "hot-part injection test bounds the adversarial emission.  The "
    "oracle "
    "keeps the id-oriented wedge join: the triangle count is "
    "orientation-invariant, which the exact hash match proves.",
)
def q_graph_triangle_stats(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    ps = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    # Data-driven projection cap (see _TRI_CAP_MARGIN comment): degree
    # histogram -> lower median (integer (n+1) div 2, no float) ->
    # margin multiply.  The cumulative window runs over the HISTOGRAM
    # (O(distinct degree values) rows), never the part population.
    hist = (
        ps.groupBy("p")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cum = hist.withColumn(
        "cum",
        F.sum("n").over(
            # bounded-frame: one row per distinct histogram bin value
            Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    cap = (
        cum.crossJoin(hist.agg(F.sum("n").alias("t")))
        .filter(F.col("cum") >= F.expr("(t + 1) div 2"))
        .agg((F.lit(_TRI_CAP_MARGIN) * F.min("c")).alias("cap"))
    )
    # The count-over-window on p hash-partitions on the same key as
    # the pair join that follows, so the guard adds no extra shuffle;
    # the 1-row cap frame broadcasts into the filter.
    w_p = Window.partitionBy("p")
    psc = (
        ps.withColumn("__c", F.count(F.lit(1)).over(w_p))
        .crossJoin(F.broadcast(cap))
        .filter(F.col("__c") <= F.col("cap"))
        .drop("__c", "cap")
    )
    a, b = psc.alias("a"), psc.alias("b")
    # Shared subtrees (ps, edges, deg, oriented, adjw) are NOT cached:
    # every shared branch ends at an exchange, and AQE's exchange
    # reuse dedups identical shuffle stages at the stage-graph level —
    # properly serialized, unlike .cache(), whose lazy block
    # population RACES when independent branch stages of one job scan
    # the same un-materialized relation concurrently (each recomputes
    # the subtree; measured 18-77 s run-to-run variance on this query
    # cached vs a stable 6.5 s uncached).
    edges = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .distinct()
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # Degree-ordered orientation: rank = (degree, id) lexicographic;
    # src is the LOWER-rank endpoint.
    oriented = degree_oriented_edges(edges, deg)
    # Compact-forward via BITMAP adjacency, not wedge rows: triangles
    # through oriented edge (u, v) = |out(u) ∩ out(v)|.  Out-neighbor
    # sets are packed into 64-bit words keyed by (vertex, dst div 64)
    # — the same word/bit encoding as bitmap_distinct_users — and the
    # intersection is bit_count(word_u AND word_v) summed over shared
    # word indexes.  Wedge work collapses 64-fold where neighbor ids
    # cluster (a word row carries up to 64 set bits), and degenerates
    # to at worst one row per wedge on scattered ids — never worse
    # than wedge-row enumeration, 6x faster on the sf0.1 K1000
    # co-supply graph (19.2 s round-4 wedge join, ~17 s per-edge
    # array_intersect, ~3 s bitmap form).
    adjw = oriented.groupBy("src", F.expr("shiftright(dst, 6)").alias("w")).agg(
        F.expr("bit_or(shiftleft(1L, cast(pmod(dst, 64) as int)))").alias("bits")
    )
    # Attach u's word rows to each edge (groupBy(src) leaves adjw
    # partitioned on the join key), then equi-join on (dst, w): only
    # word indexes BOTH endpoints touch survive into the popcount.
    ew = oriented.select("src", "dst").join(adjw, "src")
    adjv = adjw.select(
        F.col("src").alias("dst"), "w", F.col("bits").alias("bits_v")
    )
    tri = (
        ew.join(adjv, ["dst", "w"])
        .select(F.bit_count(F.col("bits").bitwiseAND(F.col("bits_v"))).alias("c"))
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("t"))
    )
    n_nodes = ps.select("s").distinct().agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    n_wedges = deg.agg(
        F.sum(F.expr("(d * (d - 1)) div 2")).alias("n_wedges")
    )
    return (
        n_nodes.crossJoin(n_edges)
        .crossJoin(n_wedges)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            F.col("t").alias("n_triangles"),
            F.try_divide(F.lit(3.0) * F.col("t"), F.col("n_wedges")).alias(
                "clustering"
            ),
        )
    )


# ===========================================================================
# Bipartite degree profile (graph-shape audit for the projection ops)
# ===========================================================================


@register(
    "graph_degree_profile",
    """
    WITH ps AS (
        SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ), d1 AS (
        SELECT 'suppliers_per_part' AS side, p AS id, count(*)::BIGINT AS deg
        FROM ps GROUP BY p
    ), d2 AS (
        SELECT 'parts_per_supplier' AS side, s AS id, count(*)::BIGINT AS deg
        FROM ps GROUP BY s
    ), u AS (
        SELECT side, deg FROM d1 UNION ALL SELECT side, deg FROM d2
    )
    SELECT side, deg, count(*)::BIGINT AS n_nodes
    FROM u GROUP BY side, deg
    """,
    survey_ids=("A1", "A3"),
    doc="Bipartite degree distribution of the part-supplier graph: how "
    "many parts have k suppliers, how many suppliers carry k parts.  "
    "The PRE-FLIGHT audit for every operator that projects or "
    "self-joins this graph (pagerank, triangles, co-supply edges): "
    "the projection emits k(k-1)/2 pairs per part, so the "
    "suppliers_per_part tail IS the quadratic risk, measured before "
    "committing to the join (the cap/threshold decision documented "
    "at graph_triangle_stats becomes data-driven).  Two keyed "
    "aggregations over the DISTINCT projection, then a tiny "
    "histogram aggregate — scales as the vocabulary.",
)
def q_graph_degree_profile(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    ps = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    d1 = ps.groupBy("p").agg(F.count(F.lit(1)).alias("deg")).select(
        F.lit("suppliers_per_part").alias("side"), "deg"
    )
    d2 = ps.groupBy("s").agg(F.count(F.lit(1)).alias("deg")).select(
        F.lit("parts_per_supplier").alias("side"), "deg"
    )
    return (
        d1.unionByName(d2)
        .groupBy("side", "deg")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


@register(
    "table_profile_orders",
    """
    SELECT 'o_orderkey' AS col, count(*)::BIGINT AS n,
           sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
           count(DISTINCT o_orderkey)::BIGINT AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_v,
           CAST(max(o_orderkey) AS VARCHAR) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*)::BIGINT,
           sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT,
           count(DISTINCT o_orderstatus)::BIGINT,
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*)::BIGINT,
           sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)::BIGINT,
           count(DISTINCT o_orderpriority)::BIGINT,
           min(o_orderpriority), max(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*)::BIGINT,
           sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
           count(DISTINCT o_custkey)::BIGINT,
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    """,
    survey_ids=("A8", "A9"),
    doc="Table profiling (the describe()/summary() primitive with "
    "EXACT statistics): per column — row count, null count, distinct "
    "count, min, max — computed in ONE scan via a multi-aggregate "
    "projection that unpivots to a row per column (the SQL oracle's "
    "UNION ALL re-scans per column; Catalyst computes all aggregates "
    "in a single pass, which is the point at 100 TB).  min/max of "
    "strings compare binary in both engines (safe on ASCII; "
    "collation-sensitive data needs an explicit collation key).  "
    "Distinct counts are exact (the expensive honest version — the "
    "approx_count_distinct profile is a one-word swap).",
)
def q_table_profile_orders(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderstatus", "o_orderpriority", "o_custkey"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__null"),
            F.countDistinct(c).alias(f"{c}__nd"),
            # min/max in the column's NATIVE order, cast after — a
            # string-cast before the aggregate would order "999" above
            # "1499".
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    wide = orders.agg(*aggs)
    # Unpivot the single wide row into one row per column.
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__null, {c}__nd, {c}__min, {c}__max" for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS (col, n, n_null, n_distinct, min_v, max_v)"
        )
    )


_SKEW_TOP = 20


@register(
    "join_key_skew_profile",
    f"""
    WITH c AS (
        SELECT user_id AS k, count(*)::BIGINT AS n FROM events GROUP BY user_id
    ), tot AS (
        SELECT sum(n)::BIGINT AS t, count(*)::BIGINT AS nk, max(n)::BIGINT AS mx
        FROM c
    )
    SELECT c.k, c.n,
           floor((cast(c.n as double) / cast(tot.t as double)) * 1e9)::BIGINT
               AS share_e9,
           floor((cast(c.n as double)
                  / (cast(tot.t as double) / cast(tot.nk as double))) * 1e6)::BIGINT
               AS over_avg_e6
    FROM c CROSS JOIN tot
    ORDER BY c.n DESC, c.k
    LIMIT {_SKEW_TOP}
    """,
    survey_ids=("A1", "O5"),
    doc=f"Join-key skew profile: the top-{_SKEW_TOP} hottest keys with "
    "their absolute count, corpus share (ppb) and multiple of the "
    "mean key load — the MEASUREMENT that decides between a plain "
    "keyed join, AQE skew split, and explicit salting "
    "(operators/layout.py salted_join): AQE handles a skewed "
    "PARTITION, salting handles a skewed KEY, and this query tells "
    "you which regime a dataset is in before the expensive join "
    "runs.  One keyed count with map-side partials, a 1-row stats "
    "broadcast, TakeOrderedAndProject — profiling cost is one scan "
    "regardless of table size.",
)
def q_join_key_skew_profile(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    c = ev.groupBy(F.col("user_id").alias("k")).agg(F.count(F.lit(1)).alias("n"))
    tot = c.agg(
        F.sum("n").cast("long").alias("t"),
        F.count(F.lit(1)).cast("long").alias("nk"),
        F.max("n").cast("long").alias("mx"),
    )
    share = F.floor(
        (F.col("n").cast("double") / F.col("t").cast("double")) * F.lit(1e9)
    ).cast("long")
    over_avg = F.floor(
        (
            F.col("n").cast("double")
            / (F.col("t").cast("double") / F.col("nk").cast("double"))
        )
        * F.lit(1e6)
    ).cast("long")
    return (
        c.crossJoin(F.broadcast(tot))
        .orderBy(F.col("n").desc(), "k")
        .limit(_SKEW_TOP)
        .select("k", "n", share.alias("share_e9"), over_avg.alias("over_avg_e6"))
    )


# --- skewed join under an explicit salt (the mitigation, executed) ----------

_SKEWJ_SALTS = 8
_SKEWJ_HOT_MOD = 4  # user_id % 4 != 0 collapses onto hot key 0 (~75% of rows)


@register(
    "skew_join_events",
    f"""
    WITH e AS (
        SELECT CASE WHEN user_id % {_SKEWJ_HOT_MOD} <> 0 THEN 0 ELSE user_id END AS k,
               floor(value * 1e4)::BIGINT AS qv
        FROM events WHERE value IS NOT NULL
    ), d AS (
        SELECT DISTINCT user_id AS k, (user_id % 7 + 1)::BIGINT AS weight
        FROM events
    )
    SELECT e.k AS skew_key, count(*)::BIGINT AS n,
           sum(e.qv * d.weight)::BIGINT AS wsum
    FROM e JOIN d ON e.k = d.k
    GROUP BY e.k
    """,
    survey_ids=("J1", "A1"),
    doc="The skew MITIGATION executed in the gate, not just profiled "
    "(join_key_skew_profile is the measurement; this is the fix "
    "running): probe events are remapped so ~75% of rows collapse "
    "onto one hot key — the join-key distribution where a plain hash "
    "join puts most of the table on one reducer — then joined to a "
    "per-key weight dim through operators/layout.salted_join with a "
    "DETERMINISTIC probe-side salt (pmod(event_id, "
    f"{_SKEWJ_SALTS})) and a shuffle_hash build hint: the hot key's "
    f"rows spread across {_SKEWJ_SALTS} reducers, the dim replicates "
    "x salts (the explode), and the join key becomes (k, salt).  The "
    "RESULT is salt-invariant — every probe row meets its key's dim "
    "row exactly once — so the oracle is the plain equi-join + "
    "group-by the salted plan must equal, and the weighted sum "
    "proves build-side attributes actually flowed through the salted "
    "path.  Salting handles a hot KEY (AQE's skew split only divides "
    "oversized partitions of distinct keys; one key's hash always "
    "lands together), which is exactly the regime injected here.",
)
def q_skew_join_events(spark, sf_dir):
    from ..operators.layout import salted_join

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    probe = ev.select(
        F.when(F.col("user_id") % _SKEWJ_HOT_MOD != 0, F.lit(0))
        .otherwise(F.col("user_id"))
        .cast("long")
        .alias("k"),
        F.floor(F.col("value") * F.lit(1e4)).cast("long").alias("qv"),
        F.pmod(F.col("event_id"), F.lit(_SKEWJ_SALTS)).cast("int").alias("__s"),
    )
    dim = (
        load(spark, sf_dir, "events")
        .select(F.col("user_id").alias("k"))
        .distinct()
        .withColumn("weight", (F.col("k") % 7 + 1).cast("long"))
        # Build side: too big to broadcast in the 100 TB posture (key
        # cardinality scales with users) — force the shuffled-hash
        # shape the salt exists for, instead of a broadcast that would
        # make the salt a no-op at toy scale.
        .hint("shuffle_hash")
    )
    joined = salted_join(
        probe, dim, "k", salt_buckets=_SKEWJ_SALTS, salt_expr=F.col("__s")
    ).drop("__s")
    return joined.groupBy(F.col("k").alias("skew_key")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("qv") * F.col("weight")).cast("long").alias("wsum"),
    )


# --- referential-integrity audit (FK orphan rates) --------------------------


@register(
    "referential_integrity_audit",
    """
    WITH e1 AS (
        SELECT count(*)::BIGINT AS n_child,
               sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_orphans
        FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), e2 AS (
        SELECT count(*)::BIGINT AS n_child,
               sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_orphans
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    ), e3 AS (
        SELECT count(*)::BIGINT AS n_child,
               sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_orphans
        FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    )
    SELECT * FROM (
        SELECT 'lineitem.l_orderkey->orders' AS edge, n_child, n_orphans,
               floor((cast(n_orphans as double) / cast(n_child as double)) * 1e6)::BIGINT AS orphan_ppm
        FROM e1
        UNION ALL
        SELECT 'orders.o_custkey->customer', n_child, n_orphans,
               floor((cast(n_orphans as double) / cast(n_child as double)) * 1e6)::BIGINT
        FROM e2
        UNION ALL
        SELECT 'lineitem.l_partkey->part', n_child, n_orphans,
               floor((cast(n_orphans as double) / cast(n_child as double)) * 1e6)::BIGINT
        FROM e3
    )
    """,
    survey_ids=("J4", "A8"),
    doc="Referential-integrity audit across the schema's three FK "
    "edges: child count, orphan count (child keys with no parent), "
    "orphan ppm.  The cross-TABLE data-quality check complementing "
    "the per-table dq_audit/table_profile family — at ingest scale, "
    "orphan spikes are how partial loads and out-of-order CDC "
    "batches surface.  Each edge is one left join counted in one "
    "aggregate; the parent side's DISTINCT key set rides a "
    "broadcast where stats allow, and the three 1-row edge results "
    "union driver-free.",
)
def q_referential_integrity_audit(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    part = load(spark, sf_dir, "part")

    def edge(label, child, ckey, parent, pkey):
        p = parent.select(F.col(pkey).alias("__pk")).distinct()
        j = child.join(p, F.col(ckey) == F.col("__pk"), "left")
        return j.agg(
            F.lit(label).alias("edge"),
            F.count(F.lit(1)).cast("long").alias("n_child"),
            F.sum(F.when(F.col("__pk").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphans"),
        ).select(
            "edge",
            "n_child",
            "n_orphans",
            F.floor(
                (F.col("n_orphans").cast("double") / F.col("n_child").cast("double"))
                * F.lit(1e6)
            )
            .cast("long")
            .alias("orphan_ppm"),
        )

    return (
        edge("lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey")
        .unionByName(
            edge("orders.o_custkey->customer", orders, "o_custkey", cust, "c_custkey")
        )
        .unionByName(
            edge("lineitem.l_partkey->part", li, "l_partkey", part, "p_partkey")
        )
    )


@register(
    "zorder_events",
    f"""
    SELECT event_id,
           {sql_zorder_key('user_id', 'CAST(floor(value * 100.0) AS BIGINT)')} AS z_key
    FROM events
    """,
    survey_ids=("O4",),
    doc="Morton (Z-order) key over (user_id, quantized value): the "
    "clustering key that gives every parquet file a compact bounding "
    "box in BOTH dimensions, so min/max footer stats prune files for "
    "predicates on either column.  Flat unrolled integer expression — "
    "codegen'd, shuffle-free (operators/layout.py:zorder_key; "
    "cluster_by_zorder adds the range-partition + local sort).",
)
def q_zorder_events(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    q = F.floor(F.col("value") * 100.0).cast("long")
    return ev.select(
        "event_id", zorder_key(F.col("user_id"), q).alias("z_key")
    )


# --- co-occurrence / market basket --------------------------------------------


@register(
    "event_type_affinity",
    """
    WITH b AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
        FROM events
    )
    SELECT a.event_type AS type_a, c.event_type AS type_b,
           count(*)::BIGINT AS n_baskets
    FROM b a JOIN b c
      ON a.user_id = c.user_id AND a.day = c.day
     AND a.event_type < c.event_type
    GROUP BY type_a, type_b
    """,
    survey_ids=("J1", "A1", "A3"),
    doc="Market-basket co-occurrence: (user, day) baskets -> distinct "
    "items per basket BEFORE the self-join (the anti-explosion move: "
    "the join is over item SETS, so a basket with k item types emits "
    "k·(k-1)/2 pairs, never |events|²) -> ordered-pair counts.  The "
    "self-join key is (user_id, day): both sides share one hash "
    "partitioning, and item-vocabulary skew is bounded by the small "
    "per-basket set size.",
)
def q_event_type_affinity(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    b = ev.select(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    ).distinct()
    a = b.alias("a")
    c = b.alias("c")
    return (
        a.join(
            c,
            (F.col("a.user_id") == F.col("c.user_id"))
            & (F.col("a.day") == F.col("c.day"))
            & (F.col("a.event_type") < F.col("c.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("c.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_baskets"))
    )


@register(
    "value_rank_positions",
    """
    SELECT event_id, event_type,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd,
           CAST(floor(value * 1000000) AS BIGINT) AS q
    FROM events
    WHERE user_id < 5
    WINDOW w AS (PARTITION BY event_type
                 ORDER BY CAST(floor(value * 1000000) AS BIGINT), event_id)
    """,
    survey_ids=("W4", "A8"),
    doc="Distribution positions per event type: percent_rank "
    "((rank-1)/(n-1)) and cume_dist (rows<=current / n) — both exact "
    "integer ratios converted once to double, identical across "
    "engines.  The (quantized value, event_id) order is total, so "
    "rank assignment is deterministic.  One window shuffle.",
)
def q_value_rank_positions(spark, sf_dir):
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    q = F.floor(F.col("value") * 1000000).cast("long")
    w = Window.partitionBy("event_type").orderBy(q.asc(), F.col("event_id").asc())
    return ev.select(
        "event_id",
        "event_type",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        q.alias("q"),
    )


@register(
    "unpivot_lineitem_measures",
    """
    SELECT l_orderkey, l_linenumber, measure, value FROM (
        SELECT l_orderkey, l_linenumber, 'l_discount' AS measure,
               l_discount AS value FROM lineitem WHERE l_orderkey < 1000
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        FROM lineitem WHERE l_orderkey < 1000
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        FROM lineitem WHERE l_orderkey < 1000
    )
    """,
    survey_ids=("A4",),
    doc="UNPIVOT (melt) — the inverse of the A4 pivot: three measure "
    "columns become (measure, value) rows via Spark's native unpivot "
    "(one Expand node, no join/shuffle; 3x row amplification is the "
    "semantics, not a plan defect).  Oracle spelled as UNION ALL for "
    "portability.",
)
def q_unpivot_lineitem_measures(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_discount", "l_extendedprice", "l_tax"],
        "measure",
        "value",
    )


@register(
    "set_ops_all_users",
    """
    SELECT 'intersect_all' AS op, count(*)::BIGINT AS n FROM (
        SELECT user_id FROM events WHERE event_type = 'click'
        INTERSECT ALL
        SELECT user_id FROM events WHERE event_type = 'purchase'
    )
    UNION ALL
    SELECT 'except_all', count(*)::BIGINT FROM (
        SELECT user_id FROM events WHERE event_type = 'click'
        EXCEPT ALL
        SELECT user_id FROM events WHERE event_type = 'purchase'
    )
    """,
    survey_ids=("U1", "U3"),
    doc="Multiset set operations: INTERSECT ALL / EXCEPT ALL preserve "
    "duplicity (min/difference of per-key multiplicities) where the "
    "existing intersect_users/except_users are set-semantics.  Both "
    "engines implement the same bag algebra; counts compared.",
)
def q_set_ops_all_users(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id")
    ia = clicks.intersectAll(buys).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).select(F.lit("intersect_all").alias("op"), "n")
    ea = clicks.exceptAll(buys).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).select(F.lit("except_all").alias("op"), "n")
    return ia.unionByName(ea)


@register(
    "dq_audit_orders",
    """
    SELECT
        (SELECT count(*) FROM orders)::BIGINT AS n_rows,
        (SELECT count(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey))::BIGINT
            AS n_orphan_custkey,
        (SELECT count(*) FROM orders WHERE o_totalprice <= 0
            OR o_totalprice IS NULL)::BIGINT AS n_bad_price,
        (SELECT count(*) FROM
            (SELECT o_orderkey FROM orders
             GROUP BY o_orderkey HAVING count(*) > 1))::BIGINT AS n_dup_keys,
        (SELECT count(*) FROM orders
          WHERE o_orderdate < DATE '1992-01-01'
             OR o_orderdate > DATE '2000-12-31')::BIGINT AS n_date_out_of_range
    """,
    survey_ids=("A8", "J4", "A9"),
    doc="Data-quality audit over orders: referential integrity to "
    "customer (left-anti probe against the broadcast dim), positive-"
    "price and date-range expectations (scan-side predicates), and "
    "key-uniqueness (one keyed aggregation).  Each check is a shape "
    "that scales — no check materializes violating ROWS, only counts; "
    "a production run would add a capped violation sample per check.",
)
def q_dq_audit_orders(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n_rows = o.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    orphans = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orphan_custkey"))
    )
    bad_price = o.agg(
        F.sum(
            F.when(
                F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_bad_price")
    )
    dups = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_keys"))
    )
    dates = o.agg(
        F.sum(
            F.when(
                (F.col("o_orderdate") < F.lit("1992-01-01").cast("date"))
                | (F.col("o_orderdate") > F.lit("2000-12-31").cast("date")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_date_out_of_range")
    )
    return (
        n_rows.crossJoin(orphans)
        .crossJoin(bad_price)
        .crossJoin(dups)
        .crossJoin(dates)
    )


# --- null-semantics audit ---------------------------------------------------


@register(
    "null_semantics_audit",
    """
    WITH d AS (
        SELECT nullif(CAST(floor(value * 100.0) AS BIGINT) % 5, 4) AS g,
               nullif(CAST(floor(value * 100.0) AS BIGINT) % 97, 0) AS a,
               nullif(CAST(floor(value * 100.0) AS BIGINT) % 89, 0) AS b
        FROM events
    )
    SELECT g,
           count(*)::BIGINT AS n_rows,
           count(a)::BIGINT AS n_a,
           count(DISTINCT a)::BIGINT AS nd_a,
           coalesce(sum(a), 0)::BIGINT AS sum_a,
           sum(CASE WHEN a IS NOT DISTINCT FROM b THEN 1 ELSE 0 END)::BIGINT
               AS n_nullsafe_eq,
           sum(CASE WHEN a = b THEN 1 ELSE 0 END)::BIGINT AS n_plain_eq,
           sum(CASE WHEN a IS NULL AND b IS NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_both_null
    FROM d GROUP BY g
    """,
    survey_ids=("G8", "A2", "A9"),
    doc="NULL-semantics conformance audit: NULL as a grouping key (its "
    "own group), null-skipping count/sum/count-distinct, null-safe "
    "vs plain equality (<=> / IS NOT DISTINCT FROM), and both-null "
    "detection — the semantics every merge/dedup operator in the "
    "engine leans on (G5 tolerant equality, J3 coalesce folds), "
    "pinned against the oracle in one query.",
)
def q_null_semantics_audit(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 100.0).cast("long")
    d = ev.select(
        F.nullif(v % 5, F.lit(4)).alias("g"),
        F.nullif(v % 97, F.lit(0)).alias("a"),
        F.nullif(v % 89, F.lit(0)).alias("b"),
    )
    one_if = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return d.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("a").cast("long").alias("n_a"),
        F.count_distinct(F.col("a")).cast("long").alias("nd_a"),
        F.coalesce(F.sum("a"), F.lit(0)).cast("long").alias("sum_a"),
        one_if(F.col("a").eqNullSafe(F.col("b"))).alias("n_nullsafe_eq"),
        one_if(F.col("a") == F.col("b")).alias("n_plain_eq"),
        one_if(F.col("a").isNull() & F.col("b").isNull()).alias("n_both_null"),
    )
