"""TPC-H shape completion: the 12 decision-support shapes the catalog
did not yet cover (Q2, Q5, Q6, Q8, Q9, Q10, Q11, Q15, Q16, Q19, Q20,
Q21), each adapted to the driver's TPC-H-ish schema (no partsupp, no
l_commitdate/l_receiptdate/p_container — predicates re-expressed over
the available columns, the plan SHAPE preserved) and paired with an
exact DuckDB oracle.

Together with the existing pricing_summary (Q1), shipping_priority
(Q3), exists_orders (Q4), volume_shipping (Q7), shipmode_priority_counts
(Q12), custdist (Q13), promo_revenue_share (Q14), small_qty_part_revenue
(Q17), large_order_details (Q18) and idle_customers (Q22), this closes
the full 22-query TPC-H decision-support surface.

Scale notes (the part that matters at 100 TB):

- Fact-fact joins (lineitem|orders) shuffle on the join key once;
  every dimension rides a broadcast.  Filtered dimension sides
  (p_size = 15, negative-balance suppliers) are broadcast AFTER the
  filter, so the build side is the small filtered set, not the table.
- Correlated subqueries are decorrelated by hand into the canonical
  Spark forms: scalar-min -> per-key window min (Q2), scalar-total ->
  1-row broadcast cross join (Q11, Q15), EXISTS/NOT-EXISTS over the
  same table -> one per-order aggregate computed ONCE and joined back
  (Q21 — the self-join trio collapses to a single extra shuffle).
- Float discipline: every revenue sum goes through decimal casts
  (order-independent exact addition) before the final double cast,
  so value hashes match DuckDB bit-exactly; ratios divide two
  exactly-computed doubles.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .catalog import dsum, load, register, sql_dsum


def _dec(col, scale=4, prec=18):
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({prec},{scale})")


# ---------------------------------------------------------------------------
# Q6 — forecast revenue change: the pure scan-side query.
# ---------------------------------------------------------------------------


@register(
    "forecast_revenue",
    f"""
    SELECT {sql_dsum('l_extendedprice * l_discount', 6)} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.05
      AND l_quantity < 24
    """,
    survey_ids=("P5", "A8"),
    doc="TPC-H Q6 shape: conjunctive range predicates + scalar sum. "
    "Every predicate reaches the parquet scan (PushedFilters on "
    "shipdate/discount/quantity), the scan reads only the four "
    "referenced columns, and the partial sum is map-side — network "
    "traffic is one partial aggregate per task regardless of data "
    "size.  The canonical 'scan efficiency' probe.",
)
def q_forecast_revenue(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.05)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"), 6).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q5 — local supplier volume: the cycle join (customer and supplier in
# the SAME nation).
# ---------------------------------------------------------------------------


@register(
    "local_supplier_volume",
    f"""
    SELECT n_name, {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
    survey_ids=("J1", "A1"),
    doc="TPC-H Q5 shape: six-way join whose distinguishing feature is "
    "the CYCLE edge — supplier.nationkey must equal customer.nationkey, "
    "a non-tree join graph.  lineitem|orders is the one shuffled join; "
    "customer, supplier, nation, region all broadcast, and the cycle "
    "edge degenerates to a cheap post-broadcast filter.  The region "
    "filter prunes nation/supplier/customer build sides before "
    "broadcast.",
)
def q_local_supplier_volume(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), 6).alias(
                "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# Q10 — returned items: top-20 customers by lost revenue.
# ---------------------------------------------------------------------------


@register(
    "returned_items_top",
    f"""
    SELECT c_custkey, c_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    survey_ids=("J1", "A1", "O5"),
    doc="TPC-H Q10 shape: selective fact filters (one quarter, "
    "returnflag = 'R'), group by a WIDE customer key (the grouping "
    "carries the display columns through the aggregate instead of "
    "re-joining after), ordered top-20 via TakeOrderedAndProject — "
    "only 20 rows per partition survive to the driver-side merge, "
    "no total sort.  c_custkey tiebreak makes the cut deterministic.",
)
def q_returned_items_top(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), 6).alias(
                "revenue"
            )
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q8 — market share: conditional-sum ratio over a two-nation-role join.
# ---------------------------------------------------------------------------


@register(
    "market_share",
    """
    WITH all_sales AS (
      SELECT year(o_orderdate)::BIGINT AS o_year,
             (l_extendedprice * (1 - l_discount))::DECIMAL(18,6) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           sum(CASE WHEN supp_nation = 'NATION_8' THEN volume
                    ELSE 0::DECIMAL(18,6) END)::VARCHAR::DOUBLE
           / sum(volume)::VARCHAR::DOUBLE AS mkt_share
    FROM all_sales GROUP BY o_year
    """,
    survey_ids=("J1", "A2"),
    doc="TPC-H Q8 shape: nation joined in TWO roles (customer's nation "
    "filters the market region, supplier's nation is the share "
    "discriminator), market share as a conditional-sum / total-sum "
    "ratio per year.  Both sums ride ONE aggregate (no second pass); "
    "decimal-exact numerator and denominator make the double division "
    "bit-stable.  All dims broadcast; lineitem|orders is the only "
    "shuffled join.",
)
def q_market_share(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    volume = _dec(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), 6)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r), F.col("c_rk") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
        .groupBy("o_year")
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_8", F.col("volume")).otherwise(
                        F.lit(0).cast("decimal(18,6)")
                    )
                ).cast("double")
                / F.sum("volume").cast("double")
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# Q9 — product-type profit (adapted: cost proxy 0.5 * p_retailprice
# per unit replaces the absent ps_supplycost).
# ---------------------------------------------------------------------------


@register(
    "profit_by_nation_year",
    f"""
    SELECT n_name AS nation, year(o_orderdate)::BIGINT AS o_year,
           {sql_dsum(
               'l_extendedprice * (1 - l_discount) '
               '- 0.5 * p_retailprice * l_quantity', 6)} AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
    survey_ids=("J1", "A1", "G3"),
    doc="TPC-H Q9 shape (cost proxy: 0.5 * p_retailprice per unit "
    "stands in for the schema's absent ps_supplycost): profit per "
    "supplier-nation per order-year over parts matching a name "
    "pattern.  The LIKE prunes the part build side BEFORE broadcast, "
    "which then semi-filters lineitem in the broadcast join — the "
    "fact table never carries non-matching parts into the "
    "lineitem|orders shuffle.",
)
def q_profit_by_nation_year(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) - F.lit(
        0.5
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(dsum(amount, 6).alias("profit"))
    )


# ---------------------------------------------------------------------------
# Q2 — cheapest supplier per part (adapted: observed unit price from
# lineitem replaces the absent partsupp supply cost).
# ---------------------------------------------------------------------------


@register(
    "min_cost_supplier",
    """
    WITH costs AS (
      SELECT l_partkey, l_suppkey,
             sum(l_extendedprice::DECIMAL(18,4))::VARCHAR::DOUBLE
             / sum(l_quantity::DECIMAL(18,4))::VARCHAR::DOUBLE AS unit_cost
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
      GROUP BY l_partkey, l_suppkey
    ), best AS (
      SELECT l_partkey, min(unit_cost) AS min_cost FROM costs GROUP BY l_partkey
    )
    SELECT p_partkey, p_name, s_name, n_name, unit_cost
    FROM costs
    JOIN best ON costs.l_partkey = best.l_partkey
             AND costs.unit_cost = best.min_cost
    JOIN part     ON p_partkey = costs.l_partkey
    JOIN supplier ON s_suppkey = costs.l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_size = 15
    """,
    survey_ids=("J1", "A1", "W4"),
    doc="TPC-H Q2 shape (observed unit price from lineitem stands in "
    "for the schema's absent partsupp cost): for each size-15 part, "
    "the European supplier(s) with the minimum exact unit price.  The "
    "correlated scalar-min subquery is decorrelated into a window min "
    "over the per-(part, supplier) aggregate — one extra column, no "
    "self-join, no second shuffle (the window reuses the groupBy's "
    "hash partitioning on l_partkey after the two-key aggregate).  "
    "Unit price divides two decimal-exact sums, so min-equality is "
    "bit-stable across engines.",
)
def q_min_cost_supplier(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    costs = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            (
                F.sum(_dec("l_extendedprice")).cast("double")
                / F.sum(_dec("l_quantity")).cast("double")
            ).alias("unit_cost")
        )
    )
    w = Window.partitionBy("l_partkey")
    best = costs.withColumn("min_cost", F.min("unit_cost").over(w)).filter(
        F.col("unit_cost") == F.col("min_cost")
    )
    # Fresh renamed projections of supplier/nation for the display
    # join: the same frames already feed `costs`, and Spark's
    # ambiguous-self-join check (rightly) rejects reusing their
    # column references on both sides.
    s2 = s.select(
        F.col("s_suppkey").alias("s_sk"),
        "s_name",
        F.col("s_nationkey").alias("s_nk"),
    )
    n2 = n.select(F.col("n_nationkey").alias("n_nk"), "n_name")
    return (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .join(F.broadcast(s2), best.l_suppkey == F.col("s_sk"))
        .join(F.broadcast(n2), F.col("s_nk") == F.col("n_nk"))
        .select("p_partkey", "p_name", "s_name", "n_name", "unit_cost")
    )


# ---------------------------------------------------------------------------
# Q11 — important parts (adapted: traded value from lineitem replaces
# partsupp stock value); HAVING against a scalar-subquery total.
# ---------------------------------------------------------------------------


@register(
    "important_parts",
    """
    WITH v AS (
      SELECT l_partkey,
             sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6))::VARCHAR::DOUBLE
               AS part_value
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'
      GROUP BY l_partkey
    )
    SELECT l_partkey, part_value FROM v
    WHERE part_value >
      (SELECT sum(part_value::DECIMAL(18,6))::VARCHAR::DOUBLE * 0.002 FROM v)
    """,
    survey_ids=("A1", "A8"),
    doc="TPC-H Q11 shape (traded value stands in for the schema's "
    "absent partsupp stock value): parts whose value within one "
    "nation exceeds a fraction of that nation's total — a HAVING "
    "against a scalar subquery over the SAME aggregate.  The "
    "aggregate is computed once and cached; the grand total folds "
    "the cached frame to one row that broadcast-cross-joins back as "
    "the threshold.  No second scan, no second shuffle.",
)
def q_important_parts(spark, sf_dir):
    from ..caching import track_cache

    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    v = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(
            dsum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), 6).alias(
                "part_value"
            )
        )
    )
    v = track_cache(v)
    total = v.agg(
        (F.sum(_dec("part_value", 6)).cast("double") * F.lit(0.002)).alias("__thresh")
    )
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("__thresh"))
        .select("l_partkey", "part_value")
    )


# ---------------------------------------------------------------------------
# Q15 — top supplier: equality against the max of a derived view.
# ---------------------------------------------------------------------------


@register(
    "top_revenue_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey,
             sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6))::VARCHAR::DOUBLE
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    survey_ids=("A1", "A8", "J1"),
    doc="TPC-H Q15 shape: the derived revenue view is used TWICE "
    "(rows + its max); computed once and cached, its 1-row max "
    "broadcast-cross-joins back as the selection threshold, and the "
    "supplier dimension broadcasts onto the winner(s).  Decimal-exact "
    "revenue makes the max-equality bit-stable — the classic "
    "float-equality-on-aggregates trap is engineered out rather "
    "than tolerated.",
)
def q_top_revenue_supplier(spark, sf_dir):
    from ..caching import track_cache

    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            dsum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), 6).alias(
                "total_revenue"
            )
        )
    )
    rev = track_cache(rev)
    mx = rev.agg(F.max("total_revenue").alias("__max_rev"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__max_rev"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# Q16 — supplier counts per part class, excluding flagged suppliers.
# ---------------------------------------------------------------------------


@register(
    "parts_supplier_counts",
    """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
    survey_ids=("A1", "A3", "U3"),
    doc="TPC-H Q16 shape (lineitem supply relationships stand in for "
    "the schema's absent partsupp): distinct-supplier counts per "
    "(brand, type, size), excluding a NOT-IN supplier denylist.  The "
    "NOT IN decorrelates to a broadcast LEFT-ANTI join against the "
    "filtered (negative-balance) supplier set — no null-semantics "
    "hazard (keys non-null), no shuffle for the exclusion.  "
    "count(DISTINCT) runs as the standard two-phase expand — keys "
    "are the group key + suppkey, so no single hot reducer.",
)
def q_parts_supplier_counts(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
    )
    bad = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q19 — disjunctive predicate revenue.
# ---------------------------------------------------------------------------


@register(
    "disjunctive_part_revenue",
    f"""
    SELECT {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
           AND l_quantity BETWEEN 20 AND 40)
    """,
    survey_ids=("P7", "A8", "J1"),
    doc="TPC-H Q19 shape (brand/size/quantity bands replace the "
    "schema's absent container/shipmode legs): a disjunction whose "
    "branches mix build-side (part) and probe-side (lineitem) "
    "columns.  Catalyst factors the single-side implications out of "
    "the OR: the part build side is pre-filtered to the three brand "
    "bands and the lineitem side to the quantity hull before the "
    "broadcast join; the full disjunction then evaluates post-join.",
)
def q_disjunctive_part_revenue(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    qty = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 10)
            & qty.between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 20)
            & qty.between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 30)
            & qty.between(20, 40)
        )
    )
    return j.filter(cond).agg(
        dsum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), 6).alias(
            "revenue"
        )
    )


# ---------------------------------------------------------------------------
# Q20 — qualified part suppliers (adapted: share-of-part shipments
# replaces the absent availqty threshold).
# ---------------------------------------------------------------------------


@register(
    "qualified_part_suppliers",
    """
    WITH shipped AS (
      SELECT l_suppkey, l_partkey,
             sum(l_quantity::DECIMAL(18,4))::VARCHAR::DOUBLE AS qty
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'small%'
        AND l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey, l_partkey
    ), dominant AS (
      SELECT l_suppkey FROM shipped
      JOIN (SELECT l_partkey AS pk, sum(qty::DECIMAL(18,4))::VARCHAR::DOUBLE AS total
            FROM shipped GROUP BY l_partkey) t
        ON shipped.l_partkey = t.pk
      WHERE qty > 0.3 * total
    )
    SELECT s_suppkey, s_name FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_regionkey = 2
      AND s_suppkey IN (SELECT l_suppkey FROM dominant)
    """,
    survey_ids=("A1", "J4", "W4"),
    doc="TPC-H Q20 shape (share-of-part shipments stands in for the "
    "absent availqty rule): suppliers in one region who shipped >30% "
    "of any name-matched part's yearly volume.  The nested IN-with-"
    "aggregate decorrelates to: per-(supplier, part) aggregate, "
    "window total per part reusing the same partitioning, threshold "
    "filter, then a LEFT-SEMI join into the supplier dimension.  "
    "Exactly one shuffle (the two-key aggregate); the semi join "
    "broadcasts the small qualifying-supplier set.",
)
def q_qualified_part_suppliers(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 2)
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("qty"))
    )
    w = Window.partitionBy("l_partkey")
    dominant = (
        shipped.withColumn(
            "total", F.sum(_dec("qty")).over(w).cast("double")
        )
        .filter(F.col("qty") > F.lit(0.3) * F.col("total"))
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(dominant), s.s_suppkey == dominant.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (adapted: late = shipped more
# than 60 days after the order date).
# ---------------------------------------------------------------------------


@register(
    "waiting_suppliers",
    """
    WITH l AS (
      SELECT l_orderkey, l_suppkey,
             (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
    ), per_order AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late
      FROM l GROUP BY l_orderkey
    )
    SELECT s_name, count(*) AS numwait
    FROM l
    JOIN per_order USING (l_orderkey)
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE l.late AND per_order.n_supp > 1 AND per_order.n_late = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
    survey_ids=("J1", "A2", "O5"),
    doc="TPC-H Q21 shape (late := shipped >60 days after the order "
    "date, standing in for the absent commit/receipt dates): "
    "suppliers who were the SOLE late supplier on a multi-supplier "
    "finalized order.  The reference shape's EXISTS(l2) + NOT "
    "EXISTS(l3) self-join trio collapses to ONE per-order aggregate "
    "(distinct suppliers, distinct late suppliers) joined back to "
    "the late rows — n_supp > 1 supplies the EXISTS, n_late = 1 the "
    "NOT-EXISTS (the one late supplier is necessarily the current "
    "row's).  Two shuffles total (per-order agg + its join back on "
    "the same key) instead of three self-join passes.",
)
def q_waiting_suppliers(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load(spark, sf_dir, "supplier")
    l = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ).alias("late"),
        )
    )
    # Un-cached (round-13 A/B: 1.69 s cached vs 1.77 s without at
    # sf0.1 — within jitter, checksum-identical): recomputing the
    # scan + broadcast-join subtree per consumer costs one extra
    # streaming pass, where the cache materialized a lineitem-sized
    # relation — the shape that spills outright at 100 TB (guide §5).
    per_order = l.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(F.when(F.col("late"), F.col("l_suppkey"))).alias("n_late"),
    )
    return (
        l.filter(F.col("late"))
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(10)
    )
