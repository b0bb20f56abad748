"""TPC-H decision-support shapes Q2-Q22, each adapted to the driver's
TPC-H-ish schema (no partsupp, no l_commitdate/l_receiptdate/
p_container — predicates re-expressed over the available columns, the
plan SHAPE preserved) and paired with an exact DuckDB oracle.

With pricing_summary (Q1) in catalog.py this is the full 22-query
TPC-H decision-support surface.

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

from pyspark.sql import functions as F
from pyspark.sql import Window

from .catalog import davg, dsum, load, register, sql_davg, sql_dsum


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
    "against a scalar subquery over the SAME aggregate.  The grand "
    "total folds the aggregate to one row that broadcast-cross-joins "
    "back as the threshold.  The aggregate is not cached: an A/B "
    "measured caching it slower than planning it twice.",
)
def q_important_parts(spark, sf_dir):
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
    "(rows + its max); its 1-row max broadcast-cross-joins back as "
    "the selection threshold (not cached: an A/B measured caching "
    "the view slower), and the "
    "supplier dimension broadcasts onto the winner(s).  Decimal-exact "
    "revenue makes the max-equality bit-stable — the classic "
    "float-equality-on-aggregates trap is engineered out rather "
    "than tolerated.",
)
def q_top_revenue_supplier(spark, sf_dir):
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


@register(
    "shipping_priority",
    f"""
    SELECT l_orderkey AS orderkey,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING' AND o_orderdate < DATE '1995-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, orderkey LIMIT 10
    """,
    survey_ids=("J1", "A1", "O5"),
    doc="TPC-H Q3 shape: selective dim filter, fact join, grouped "
    "revenue, global top-10 (TakeOrderedAndProject).",
)
def q_shipping_priority(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
        .join(
            o.filter(F.col("o_orderdate") < F.lit("1995-03-15").cast("date")),
            li.l_orderkey == o.o_orderkey,
        )
        .join(
            F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
            o.o_custkey == c.c_custkey,
        )
        .groupBy(
            F.col("l_orderkey").alias("orderkey"), "o_orderdate", "o_orderpriority"
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue"))
        .select("orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "orderkey")
        .limit(10)
    )


@register(
    "shipmode_priority_counts",
    """
    SELECT l_returnflag,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
           sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_returnflag IN ('A', 'R')
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
    survey_ids=("A2", "P7"),
    doc="TPC-H Q12 shape: IN-list predicate + conditional counts per "
    "return flag (the synthetic schema has no ship mode).",
)
def q_shipmode_priority_counts(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            F.col("l_returnflag").isin("A", "R")
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


@register(
    "promo_revenue_share",
    f"""
    SELECT date_trunc('month', l_shipdate)::DATE AS month,
           {sql_dsum("CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END", 6)} AS promo_revenue,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY month
    """,
    survey_ids=("A2", "J1", "T9"),
    doc="TPC-H Q14 shape: promo revenue vs total per ship month "
    "(broadcast part join; the ratio is left to the caller so both "
    "numerator and denominator stay exact decimals).",
)
def q_promo_revenue_share(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.to_date(F.date_trunc("month", "l_shipdate")).alias("month"))
        .agg(
            dsum(promo, 6).alias("promo_revenue"),
            dsum(rev, 6).alias("total_revenue"),
        )
    )


@register(
    "exists_orders",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
    survey_ids=("J4", "A1"),
    doc="TPC-H Q4 shape: correlated EXISTS -> left-semi join (the "
    "decorrelation Catalyst and DuckDB both apply), date-range filter "
    "pushed to the orders scan, then a group-count.",
)
def q_exists_orders(spark, sf_dir):
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "large_order_details",
    f"""
    WITH big AS (
      SELECT l_orderkey, {sql_dsum('l_quantity')} AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING {sql_dsum('l_quantity')} > 300
    )
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice, b.total_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    survey_ids=("J1", "A1"),
    doc="TPC-H Q18 shape: IN-subquery-with-aggregate expressed as a "
    "pre-aggregated build side.  The HAVING filter shrinks the build "
    "to a handful of hot orders, which is then BROADCAST through both "
    "probe joins — no shuffle of orders or customer.",
)
def q_large_order_details(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    o = load(spark, sf_dir, "orders", widen=False)
    c = load(spark, sf_dir, "customer")
    return (
        F.broadcast(big)
        .join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "o_orderkey", "o_totalprice", "total_qty")
    )


@register(
    "volume_shipping",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l.l_shipdate)::BIGINT AS l_year,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 6)} AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
    survey_ids=("J1", "A1"),
    doc="TPC-H Q7 shape: five-way join where every dimension (orders is "
    "the exception) broadcasts; the disjunctive two-nation predicate is "
    "applied AFTER the nation joins so Catalyst can still push the "
    "per-nation IN-filters into the dim scans.  Only lineitem|orders "
    "shuffle (on orderkey); everything else rides the broadcast.",
)
def q_volume_shipping(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    n2 = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
    ).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("revenue")
    )


@register(
    "custdist",
    """
    WITH c_orders AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    SELECT c_count, count(*)::BIGINT AS custdist
    FROM c_orders GROUP BY c_count
    """,
    survey_ids=("J3", "A1"),
    doc="TPC-H Q13 shape: left outer join with a compound ON predicate "
    "(the priority filter must live in the ON clause, not WHERE, or "
    "zero-order customers vanish), per-customer count including zeros, "
    "then a second aggregation over the counts.  The second groupBy's "
    "input is one row per customer — tiny — so the only real shuffle "
    "is the orders-by-custkey exchange.",
)
def q_custdist(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "small_qty_part_revenue",
    f"""
    WITH enriched AS (
      SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand = 'Brand#1'
    ), stats AS (
      SELECT l_partkey, {sql_davg('l_quantity')} AS avg_qty
      FROM enriched GROUP BY l_partkey
    )
    SELECT {sql_dsum('e.l_extendedprice')} / 7.0 AS avg_yearly
    FROM enriched e JOIN stats s ON e.l_partkey = s.l_partkey
    WHERE e.l_quantity < 0.2 * s.avg_qty
    """,
    survey_ids=("J1", "A8"),
    doc="TPC-H Q17 shape: correlated per-part average decorrelated into "
    "an aggregate + self-join.  The brand filter broadcasts into the "
    "lineitem scan first (so the per-part average runs over ~1% of "
    "lineitem), and the per-part stats frame is small enough to "
    "broadcast back — the plan has ONE shuffle (groupBy partkey).",
)
def q_small_qty_part_revenue(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    enriched = li.join(
        F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey")
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    stats = enriched.groupBy(F.col("l_partkey").alias("s_partkey")).agg(
        davg("l_quantity").alias("avg_qty")
    )
    return (
        enriched.join(F.broadcast(stats), F.col("l_partkey") == F.col("s_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg((dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


@register(
    "idle_customers",
    """
    WITH avg_bal AS (
      SELECT sum(c_acctbal::DECIMAL(18,6))::VARCHAR::DOUBLE / count(*) AS a
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT (c.c_nationkey % 5)::INT AS cgroup,
           count(*)::BIGINT AS numcust,
           sum(c.c_acctbal::DECIMAL(18,6))::VARCHAR::DOUBLE AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.a
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
      )
    GROUP BY 1
    """,
    survey_ids=("A8", "U3", "A1"),
    doc="TPC-H Q22 shape: scalar subquery (global positive-balance "
    "average) broadcast as a literal-like 1-row cross join, anti join "
    "against urgent orders, then a grouped rollup of the survivors.  "
    "The anti join's right side is pre-filtered and deduplicated to "
    "distinct custkeys before the exchange.",
)
def q_idle_customers(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(davg("c_acctbal").alias("a"))
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey").distinct()
    kept = (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
    )
    return kept.groupBy((F.col("c_nationkey") % 5).cast("int").alias("cgroup")).agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double").alias("totacctbal"),
    )
