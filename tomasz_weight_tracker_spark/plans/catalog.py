"""The query catalog.

Each entry is one operator family from SURVEY.md §2 (or a
training-data-pipeline extension) expressed twice:

- ``build(spark, sf_dir)`` — the Spark-first implementation over the
  driver's parquet tables;
- ``oracle`` — semantically identical ANSI/DuckDB SQL over the same
  tables (pre-registered views).

Float-exactness discipline (so order-insensitive value hashes match):

- Sums of doubles are cast to DECIMAL before aggregation in BOTH
  engines — decimal addition is exact and order-independent, then the
  exact result is cast back to double (deterministic).
- Averages are computed as exact-decimal-sum / count in double.
- Dot products are sequential left-to-right folds in both engines.
- Hashes are md5-derived (both engines implement md5 identically).
- Every window order has a unique tiebreak column.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import similarity as S
from ..operators import time_ops as TO
from ..pipelines.electricity import fifteen_minute_usage
from ..session import parquet_file_sizes, session_state


def load(
    spark: SparkSession, sf_dir: str, table: str, widen: bool = True
) -> DataFrame:
    """Read a driver parquet table (memoized per session+path).

    ``widen=False`` skips the single-row-group repartition for plans
    where an artificial exchange only costs (TakeOrdered top-k runs
    per-partition with no shuffle; a round-robin exchange before it
    moves every row to save nothing).  Aggregation/explode-heavy plans
    keep the default: their per-row work after the exchange outweighs
    the one-time row movement.

    The ``events`` table is written with parquet TIMESTAMP(NANOS), which
    Spark's vectorized reader rejects.  We read nanos as raw longs
    (``spark.sql.legacy.parquet.nanosAsLong``) and truncate to
    microseconds with exact integer division — the same ns->us
    truncation DuckDB applies when it coerces the column to TIMESTAMP,
    so both engines see identical values.

    Memoization (``session.SessionState.loads``) returns the SAME
    DataFrame object for repeated loads of one table, so Spark reuses
    the resolved relation (file listing + footer schema read + the
    widen decision happen once per table, not once per query) — part
    of the per-query driver-overhead floor the round-1 bench paid 18
    times over.  DataFrames are immutable plans, so sharing is safe;
    nothing is persisted (each action still scans parquet).
    """
    # The caller may hand us an arbitrary SparkSession (the driver builds
    # its own); timestamp semantics vs. the DuckDB oracle require UTC.
    # Set BEFORE the cache lookup so a tz change elsewhere in the
    # session can't stick to the cached-table path.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Parquet timestamps without isAdjustedToUTC (timestamp[us], the
    # driver's current writer) would infer as TIMESTAMP_NTZ in Spark 4,
    # which unix_micros/watermarks reject.  Read them as session-tz
    # TIMESTAMP instead: with the UTC session tz this is value-identical
    # to DuckDB's TIMESTAMP view of the same column.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    loads = session_state(spark).loads
    key = (spark, sf_dir, table, widen)
    cached = loads.get(key)
    if cached is not None:
        return cached
    path = f"{sf_dir}/{table}.parquet"
    if table != "events":
        df = spark.read.parquet(path)
    else:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if widen:
        df = _widen(spark, df, path, table)
    loads[key] = df
    return df


# Tables whose single-file, single-row-group layout would otherwise pin
# the scan (and the partial aggregation fused into it) to ONE task.
# Parquet can't split below a row group, so on local[32] we widen with
# an explicit round-robin exchange; on a real dataset with thousands of
# splits the condition is false and this is a no-op.  The exchange
# carries only the pruned columns (Catalyst keeps projection/filter
# pushdown below the repartition).
#
# ``documents`` is in the set because its queries do heavy PER-ROW
# compute (shingling, minhash, tokenization, n-gram explosion) before
# the first natural exchange; measured same-window at sf0.1 the widen
# is x1.3-x3.9 on those plans (lexical_cosine_pairs 3.52->0.91 s,
# minhash_signature x2.9, doc_repetition x2.4, dup_passage_spans x1.9).
# ``events``/``embeddings`` are NOT: their per-row work is trivial, so
# the extra exchange only costs (measured x0.2-x0.7).  Four cheap
# documents plans opt out at their load site (widen=False) for the
# same measured reason.
_WIDEN_MIN_ROWS_TABLES = {"lineitem", "orders", "documents"}
# Below this total input size the exchange can't pay for itself even on
# compute-heavy plans (the per-task work after the split is smaller
# than the task-scheduling + shuffle-write floor): measured at sf0.01
# (65 KiB documents) widening is a wash-to-loss, at sf0.1 (581 KiB) it
# wins.  Scale-adaptive by construction — a production input is far
# above the floor AND has many natural splits (nparts gate false).
_WIDEN_MIN_BYTES = 256 * 1024


def _file_splits(spark: SparkSession, sizes: list[int]) -> int:
    """Scan splits of files with these sizes: ceil(bytes /
    maxPartitionBytes) per file — the arithmetic FilePartition uses,
    without the RDD conversion df.rdd.getNumPartitions() would force.
    The byte limit is the one Spark resolved: the conf string keeps the
    unit it was set with ("64m")."""
    max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return sum(max(1, -(-size // max_bytes)) for size in sizes)


def _widen(spark: SparkSession, df: DataFrame, path: str, table: str) -> DataFrame:
    if table not in _WIDEN_MIN_ROWS_TABLES:
        return df
    sizes = parquet_file_sizes(path)
    if not sizes:  # unlistable (production scale) or empty: no widen
        return df
    nparts = _file_splits(spark, sizes)
    cores = spark.sparkContext.defaultParallelism
    if nparts * 4 <= cores and sum(sizes) >= _WIDEN_MIN_BYTES:
        return df.repartition(cores)
    return df


# Star queries pre-aggregate lineitem to one decimal partial per
# l_orderkey ONLY when ``orders`` is too big to broadcast.  Below the
# planner's broadcast threshold the direct plan never shuffles lineitem
# (orders ships as a broadcast relation, the fact side stays in its scan
# stage), so the pre-aggregation exchange is pure cost (measured +0.5 s
# per star query at sf0.1).  Above it the orders join shuffles the fact
# side in full, and reducing it to |orders| narrow partials first is the
# sf100-measured x1.7 win (185 s -> 110 s).  8 MiB of parquet ~ >10 MB
# of the planner's (decompressed) size estimate, so the switch flips
# strictly before the broadcast does.  Both shapes are value-identical
# (decimal partials regroup the same addends) and both are
# parity-verified; the choice derives from input size, not core count.
_STAR_PREAGG_MIN_ORDERS_BYTES = 8 << 20


def star_preagg(spark: SparkSession, sf_dir: str) -> bool:
    """True when the star queries should pre-aggregate lineitem (also
    when ``orders`` cannot be listed: production scale)."""
    sizes = parquet_file_sizes(f"{sf_dir}/orders.parquet")
    return sizes is None or sum(sizes) >= _STAR_PREAGG_MIN_ORDERS_BYTES


# The bigram-LM scorer joins its exploded bigram stream against the
# model's bigram-count table.  The model is vocabulary-bounded but NOT
# corpus-bounded-small: on a 100 TB crawl the distinct-bigram table can
# run to billions of rows, so the production shape is the keyed join
# (AQE skew split absorbing the Zipf head).  When the corpus is small
# enough that the bigram relation provably fits a broadcast (16 MiB of
# documents parquet -> a 1/5 train split -> low-millions of distinct
# bigrams at worst, well under the 8 GB broadcast cap on an 8 g
# driver), broadcasting it removes the ONE exchange that carries the
# exploded held-out corpus (guide §3.1: broadcast the side that fits).
# Size-derived like star_preagg: the switch keys on input bytes, never
# on core count.
_LM_BROADCAST_MAX_DOCS_BYTES = 16 << 20


def lm_broadcast_model(sf_dir: str) -> bool:
    """True when the bigram model should be broadcast to the scorer
    (never when ``documents`` cannot be listed: production scale)."""
    sizes = parquet_file_sizes(f"{sf_dir}/documents.parquet")
    return sizes is not None and sum(sizes) <= _LM_BROADCAST_MAX_DOCS_BYTES


# Five queries (embed_ivf_trained, semantic_dedup, the IVFADC trio via
# _ivfadc_rank, bitext_mine_margin_ivf_trained, bitext_recall_audit)
# train the IDENTICAL coarse quantizer: ivf_train on the full embeddings
# table with the same (n_centroids, iterations).  Training is Lloyd
# rounds with an eager localCheckpoint per round — the dominant cost of
# the bitext pair (round-12 verdict item 4) — and the result is a pure
# deterministic function of the input table, so one session trains it
# ONCE and every query reuses the tiny (n_centroids-row) checkpointed
# frame.  Memoized in the application's SessionState: a new bench/oracle
# invocation always retrains from the parquet inputs; nothing persists
# across runs.


def trained_ivf_centroids(
    spark: SparkSession, sf_dir: str, n_centroids: int = 8, iterations: int = 2
) -> DataFrame:
    """Memoized ``ivf_train`` over the full embeddings table."""
    memo = session_state(spark).ivf_centroids
    key = (sf_dir, n_centroids, iterations)
    if key not in memo:
        e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        memo[key] = S.ivf_train(e, n_centroids=n_centroids, iterations=iterations)
    return memo[key]


@dataclass
class Query:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    survey_ids: tuple[str, ...] = field(default=())
    doc: str = ""


REGISTRY: dict[str, Query] = {}

# Layout-write cost, recorded per build by the queries that write a
# storage layout, so bench can report the layout investment (write_s)
# separately from what it buys (query_s).
LAYOUT_WRITE_S: dict[str, float] = {}


def register(name, oracle, survey_ids=(), doc=""):
    def deco(fn):
        REGISTRY[name] = Query(name, fn, oracle, tuple(survey_ids), doc)
        return fn

    return deco


# --- exact-aggregation helpers --------------------------------------------


def dsum(col, scale: int = 4):
    """Order-independent exact sum of a double column (see module doc)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")


def sql_dsum(expr: str, scale: int = 4) -> str:
    # ::VARCHAR::DOUBLE, not ::DOUBLE: DuckDB's decimal->double cast
    # divides the (huge)int payload by 10^scale in floating point, so
    # once the scaled integer exceeds 2^53 it DOUBLE-ROUNDS (round-10
    # sf1 finding: pricing_summary's sum_charge off by 1 ulp at 2.8e16
    # scaled).  The decimal's string render parsed by strtod is
    # correctly rounded — bit-identical to Spark's BigDecimal
    # .doubleValue at any magnitude.
    return f"sum(({expr})::DECIMAL(18,{scale}))::VARCHAR::DOUBLE"


def davg(col):
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,6)")).cast("double") / F.count(c)


def sql_davg(expr: str) -> str:
    # Same ::VARCHAR route as sql_dsum (correctly-rounded at any scale).
    return f"sum(({expr})::DECIMAL(18,6))::VARCHAR::DOUBLE / count({expr})"


PEAK_TYPES = ("click", "view", "purchase")


# ===========================================================================
# Relational core (SURVEY §2.2-2.4, §2.6-2.7)
# ===========================================================================


@register(
    "pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS sum_disc_price,
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    survey_ids=("A1", "P5", "O1"),
    doc="TPC-H Q1 shape: multi-agg hash aggregation with pushed-down filter.",
)
def q_pricing_summary(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("sum_disc_price"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")), 6
            ).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "revenue_by_nation",
    f"""
    SELECT n.n_name AS nation, r.r_name AS region,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 6)} AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
    survey_ids=("J1", "A1"),
    doc="Star join: fact joined to broadcast dims (customer/nation/"
    "region).  Scale shape: lineitem pre-aggregates to one DECIMAL "
    "partial + count per l_orderkey BEFORE the orders join (map-side "
    "combinable — order lines are key-adjacent in the layout), so the "
    "one real shuffle carries |orders| narrow rows instead of "
    "|lineitem| wide ones (rollup_revenue's sf100 measurement: "
    "185 s -> 110 s for the same shape).  Exact: the decimal partials "
    "are re-aggregable — the final sum regroups identical addends.",
)
def q_revenue_by_nation(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    if star_preagg(spark, sf_dir):
        fact = li.groupBy("l_orderkey").agg(
            F.sum(rev).alias("__po"), F.count(F.lit(1)).alias("__n")
        )
        join_key = fact.l_orderkey
    else:
        fact = li.select(
            "l_orderkey", rev.alias("__po"), F.lit(1).cast("long").alias("__n")
        )
        join_key = fact.l_orderkey
    return (
        fact.join(o, join_key == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.sum("__po").cast("double").alias("revenue"),
            F.sum("__n").cast("long").alias("n_items"),
        )
    )


@register(
    "distinct_order_months",
    "SELECT DISTINCT year(o_orderdate)::BIGINT AS yr, month(o_orderdate)::BIGINT AS mth FROM orders",
    survey_ids=("A3",),
    doc="DISTINCT projection (utils/duckdb_electricity_1-minute.py:21-23).",
)
def q_distinct_order_months(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    return o.select(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mth"),
    ).distinct()


@register(
    "conditional_agg",
    f"""
    SELECT event_type,
           count(*) AS n,
           sum(CASE WHEN value > 20 THEN 1 ELSE 0 END)::BIGINT AS n_large,
           {sql_dsum('CASE WHEN value > 20 THEN value ELSE 0.0 END')} AS sum_large
    FROM events GROUP BY event_type
    """,
    survey_ids=("A2",),
    doc="SUM(CASE WHEN ...) conditional aggregation "
    "(utils/duckdb_electricity_1-minute.py:112-121).",
)
def q_conditional_agg(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    big = F.when(F.col("value") > 20, 1).otherwise(0)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(big).cast("long").alias("n_large"),
        dsum(F.when(F.col("value") > 20, F.col("value")).otherwise(F.lit(0.0))).alias("sum_large"),
    )


@register(
    "global_summary",
    f"""
    SELECT count(*) AS n_rows,
           count(DISTINCT l_orderkey) AS n_orders,
           {sql_dsum('l_quantity')} AS total_qty,
           min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship
    FROM lineitem
    """,
    survey_ids=("A8",),
    doc="Global scalar aggregation (utils/duckdb_only__electricity_1-minute.py:174-182).",
)
def q_global_summary(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        dsum("l_quantity").alias("total_qty"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


@register(
    "top_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
    survey_ids=("O5", "P8", "O2"),
    doc="Ordered limit / top-k (TakeOrderedAndProject).",
)
def q_top_orders(spark, sf_dir):
    # widen=False: TakeOrderedAndProject is per-partition + merge — an
    # exchange before it moves every row to save nothing.
    o = load(spark, sf_dir, "orders", widen=False)
    return (
        o.orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    )


@register(
    "top3_per_segment",
    """
    SELECT c_mktsegment, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY c_mktsegment
                              ORDER BY o_totalprice DESC, o_orderkey)::BIGINT AS rnk
    FROM orders JOIN customer ON o_custkey = c_custkey
    QUALIFY rnk <= 3
    """,
    survey_ids=("O3", "W4"),
    doc="Top-k per group via ranking window.",
)
def q_top3_per_segment(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice", "rnk")
    )


@register(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    survey_ids=("J4", "U3"),
    doc="Left-anti join — the incremental-sync set difference "
    "(utils/20251223-weight-for-streamlit.py:144,155).",
)
def q_customers_without_orders(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "customers_with_orders",
    """
    SELECT c_custkey, c_acctbal FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    survey_ids=("J4",),
    doc="Left-semi join (EXISTS).",
)
def q_customers_with_orders(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_acctbal")


@register(
    "union_by_name",
    """
    SELECT event_id, user_id, value, 'click' AS kind FROM events WHERE event_type = 'click'
    UNION ALL BY NAME
    SELECT event_id, user_id, NULL::DOUBLE AS value, 'signup' AS kind
    FROM events WHERE event_type = 'signup'
    """,
    survey_ids=("U1",),
    doc="unionByName with missing columns (pd.concat append, "
    "utils/20251223-weight-for-streamlit.py:176).",
)
def q_union_by_name(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "value", F.lit("click").alias("kind")
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", F.lit("signup").alias("kind")
    )
    return clicks.unionByName(signups, allowMissingColumns=True)


@register(
    "full_outer_coalesce",
    f"""
    WITH a AS (SELECT user_id, {sql_dsum('value')} AS click_sum
               FROM events WHERE event_type = 'click' GROUP BY user_id),
         b AS (SELECT user_id, {sql_dsum('value')} AS purchase_sum
               FROM events WHERE event_type = 'purchase' GROUP BY user_id)
    SELECT coalesce(a.user_id, b.user_id) AS user_id,
           coalesce(a.click_sum, 0.0) AS click_sum,
           coalesce(b.purchase_sum, 0.0) AS purchase_sum
    FROM a FULL OUTER JOIN b ON a.user_id = b.user_id
    """,
    survey_ids=("J3", "G7", "U2"),
    doc="Full-outer join + coalesce — the sensor-merge core "
    "(utils/20251223-csv-to-separate-sensors.py:167-183).",
)
def q_full_outer_coalesce(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    a = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(dsum("value").alias("click_sum"))
    )
    b = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(dsum("value").alias("purchase_sum"))
    )
    return (
        a.withColumnRenamed("user_id", "ua")
        .join(b.withColumnRenamed("user_id", "ub"), F.col("ua") == F.col("ub"), "full")
        .select(
            F.coalesce("ua", "ub").alias("user_id"),
            F.coalesce("click_sum", F.lit(0.0)).alias("click_sum"),
            F.coalesce("purchase_sum", F.lit(0.0)).alias("purchase_sum"),
        )
    )


@register(
    "dedup_keep_last",
    """
    SELECT user_id, event_type, event_id, value FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
    survey_ids=("A6",),
    doc="Keep-last dedup in key order (drop_duplicates keep='last', "
    "utils/20251223-csv-to-separate-sensors.py:75).",
)
def q_dedup_keep_last(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return D.dedup_keep_last(
        ev, ["user_id", "event_type"], [F.col("ts"), F.col("event_id")]
    ).select("user_id", "event_type", "event_id", "value")


@register(
    "dedup_distinct_pairs",
    "SELECT DISTINCT user_id, event_type FROM events",
    survey_ids=("A7",),
    doc="Full-row-signature dedup (utils/loose_thoughts.py:227-238).",
)
def q_dedup_distinct_pairs(spark, sf_dir):
    return load(spark, sf_dir, "events").select("user_id", "event_type").distinct()


PIVOT_TYPES = ("click", "view", "purchase", "signup", "error")


@register(
    "pivot_event_counts",
    "SELECT user_id, "
    + ", ".join(
        f"count(CASE WHEN event_type = '{t}' THEN 1 END)::BIGINT AS {t}" for t in PIVOT_TYPES
    )
    + " FROM events GROUP BY user_id",
    survey_ids=("A4",),
    doc="Long->wide pivot with counts (pivot_table, "
    "utils/20251223-weight-for-streamlit.py:256-261).",
)
def q_pivot_event_counts(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", list(PIVOT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in PIVOT_TYPES]
    )


@register(
    "pivot_first_value",
    "SELECT user_id, "
    + ", ".join(
        f"arg_min(value, event_id) FILTER (WHERE event_type = '{t}') AS {t}" for t in PIVOT_TYPES
    )
    + " FROM events GROUP BY user_id",
    survey_ids=("A4",),
    doc="Pivot with deterministic first-value semantics (aggfunc='first' "
    "keyed by the unique event_id).",
)
def q_pivot_first_value(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", list(PIVOT_TYPES))
        .agg(F.min_by("value", "event_id"))
    )


# ===========================================================================
# Window functions (SURVEY §2.5)
# ===========================================================================


@register(
    "lead_delta",
    """
    SELECT user_id, event_id,
           floor(epoch(lead(ts) OVER w))::BIGINT - floor(epoch(ts))::BIGINT AS gap_s,
           lead(value) OVER w - value AS value_delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    survey_ids=("W1", "W2"),
    doc="LEAD offset window — the meter-delta operator "
    "(utils/duckdb_electricity_1-minute.py:60-69).",
)
def q_lead_delta(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        (F.unix_timestamp(F.lead("ts").over(w)) - F.unix_timestamp("ts")).alias("gap_s"),
        (F.lead("value").over(w) - F.col("value")).alias("value_delta"),
    )


@register(
    "rolling_avg_7d",
    f"""
    SELECT user_id, event_id,
           (sum(value::DECIMAL(18,6)) OVER w)::VARCHAR::DOUBLE / count(*) OVER w AS roll_avg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY floor(epoch(ts))::BIGINT
                 RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
    """,
    survey_ids=("W3",),
    doc="Rolling time-range window mean — 28D trendline operator "
    "(utils/20251223-weight-for-streamlit.py:300-310), 7-day variant.",
)
def q_rolling_avg_7d(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-604800, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        (
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("roll_avg"),
    )


@register(
    "latest_vs_previous",
    """
    SELECT user_id, event_id,
           value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
    """,
    survey_ids=("W4", "W2"),
    doc="Latest vs previous reading delta "
    "(utils/20251223-weight-for-streamlit_old_001.py:262-264).",
)
def q_latest_vs_previous(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    wa = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("delta", F.col("value") - F.lag("value").over(wa))
        .withColumn("__rn", F.row_number().over(wd))
        .filter(F.col("__rn") == 1)
        .select("user_id", "event_id", "delta")
    )


@register(
    "sessionize",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER w))::BIGINT > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, sum(new_session)::BIGINT AS n_sessions, count(*) AS n_events
    FROM flagged GROUP BY user_id
    """,
    survey_ids=("W1",),
    doc="Sessionization: lag-gap flag + running sum (guide pattern; "
    "streaming twin is session_window).",
)
def q_sessionize(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flagged = ev.withColumn(
        "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ===========================================================================
# Time operators (SURVEY §2.8)
# ===========================================================================


@register(
    "utc_convert",
    """
    SELECT event_id,
           floor(epoch(timezone('Europe/London', ts)))::BIGINT AS epoch_london,
           floor(epoch(timezone('Asia/Kolkata', ts)))::BIGINT AS epoch_kolkata
    FROM events
    """,
    survey_ids=("T2", "T3"),
    doc="DST-aware local->UTC conversion — to_utc_timestamp replaces the "
    "hand-rolled BST rule (utils/pandas_electricity.py:20-42).",
)
def q_utc_convert(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.unix_timestamp(TO.local_to_utc(F.col("ts"), "Europe/London")).alias("epoch_london"),
        F.unix_timestamp(TO.local_to_utc(F.col("ts"), "Asia/Kolkata")).alias("epoch_kolkata"),
    )


@register(
    "minute_grid",
    """
    WITH leads AS (
      SELECT user_id, ts AS t0, lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t1
      FROM events WHERE user_id < 20
    ), capped AS (
      SELECT user_id, t0, least(t1, t0 + INTERVAL 120 MINUTES) AS tend
      FROM leads WHERE t1 IS NOT NULL
    ), grid AS (
      SELECT user_id,
             unnest(generate_series(t0 + INTERVAL 1 MINUTE, tend, INTERVAL 1 MINUTE)) AS minute_ts
      FROM capped WHERE tend >= t0 + INTERVAL 1 MINUTE
    )
    SELECT user_id, count(*) AS n_minutes,
           min(minute_ts) AS first_minute, max(minute_ts) AS last_minute
    FROM grid GROUP BY user_id
    """,
    survey_ids=("T4", "W1"),
    doc="Interval -> 1-minute grid via explode(sequence(...)) — replaces "
    "the reference's row loops (utils/pandas_electricity.py:69-122).",
)
def q_minute_grid(spark, sf_dir):
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    df = ev.select("user_id", F.col("ts").alias("t0"), F.lead("ts").over(w).alias("t1"))
    df = TO.explode_minute_grid(df, "t0", "t1", "minute_ts", max_minutes=120)
    return df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_minutes"),
        F.min("minute_ts").alias("first_minute"),
        F.max("minute_ts").alias("last_minute"),
    )


@register(
    "bucket_15min",
    f"""
    SELECT make_timestamp(((floor(floor(epoch(ts - INTERVAL 1 MINUTE)) / 900) * 900)::BIGINT) * 1000000) AS bucket,
           count(*) AS n, {sql_dsum('value')} AS total_value
    FROM events GROUP BY bucket
    """,
    survey_ids=("T7", "A1"),
    doc="End-labeled 15-minute bucket aggregation "
    "(utils/15-minute-duckdb_electricity.py:125).",
)
def q_bucket_15min(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.withColumn("bucket", TO.bucket_end_labeled(F.col("ts")))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value"))
    )


@register(
    "peak_offpeak",
    f"""
    SELECT ts::DATE AS day,
           CASE WHEN (hour(ts) * 60 + minute(ts)) > {TO.PEAK_START_MIN}
                 AND (hour(ts) * 60 + minute(ts)) <= {TO.PEAK_END_MIN}
                THEN 'P' ELSE 'OP' END AS category,
           count(*) AS n, {sql_dsum('value')} AS total_value
    FROM events GROUP BY day, category
    """,
    survey_ids=("T5", "A2", "T9"),
    doc="Peak/off-peak time-of-day classification, (06:30, 23:30] half-open "
    "(utils/duckdb_electricity_1-minute.py:97-107).",
)
def q_peak_offpeak(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.to_date("ts"))
        .withColumn("category", TO.peak_category(F.col("ts")))
        .groupBy("day", "category")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total_value"))
    )


def _electricity_oracle(source: str = "events") -> str:
    peak_list = ", ".join(f"'{t}'" for t in PEAK_TYPES)
    mod = "(hour(minute_ts) * 60 + minute(minute_ts))"
    return f"""
    WITH readings AS (
      SELECT user_id, ts, event_id,
             sum((CASE WHEN event_type IN ({peak_list}) THEN value ELSE 0.0 END)::DECIMAL(18,6))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS p_cum,
             sum((CASE WHEN event_type NOT IN ({peak_list}) THEN value ELSE 0.0 END)::DECIMAL(18,6))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS op_cum
      FROM {source}
    ), leads AS (
      SELECT user_id, ts AS t0,
             lead(ts) OVER w AS t1,
             (lead(p_cum) OVER w - p_cum)::DOUBLE AS d_p,
             (lead(op_cum) OVER w - op_cum)::DOUBLE AS d_op
      FROM readings WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), capped AS (
      SELECT user_id, t0, least(t1, t0 + INTERVAL 60 MINUTES) AS tend, d_p, d_op
      FROM leads WHERE t1 IS NOT NULL
    ), grid AS (
      SELECT user_id, t0, d_p, d_op,
             unnest(generate_series(t0 + INTERVAL 1 MINUTE, tend, INTERVAL 1 MINUTE)) AS minute_ts
      FROM capped WHERE tend >= t0 + INTERVAL 1 MINUTE
    ), cat AS (
      SELECT *, CASE WHEN {mod} > {TO.PEAK_START_MIN} AND {mod} <= {TO.PEAK_END_MIN} THEN 'P' ELSE 'OP' END AS category
      FROM grid
    ), counted AS (
      SELECT *,
             sum(CASE WHEN category = 'P' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id, t0) AS p_mins,
             sum(CASE WHEN category = 'OP' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id, t0) AS op_mins
      FROM cat
    ), rated AS (
      SELECT user_id, minute_ts,
             CASE WHEN category = 'P' AND p_mins > 0 THEN d_p / p_mins END AS p_usage_min,
             CASE WHEN category = 'OP' AND op_mins > 0 THEN d_op / op_mins END AS op_usage_min
      FROM counted
    )
    SELECT user_id,
           make_timestamp(((floor(floor(epoch(minute_ts - INTERVAL 1 MINUTE)) / 900) * 900)::BIGINT) * 1000000) AS bucket,
           min(minute_ts) AS min_ts, max(minute_ts) AS max_ts,
           count(*) AS minutes,
           sum(p_usage_min::DECIMAL(18,12))::VARCHAR::DOUBLE AS p_usage,
           sum(op_usage_min::DECIMAL(18,12))::VARCHAR::DOUBLE AS op_usage
    FROM rated GROUP BY user_id, bucket
    """


@register(
    "electricity_15min",
    _electricity_oracle(),
    survey_ids=("W1", "T4", "T5", "T6", "T7", "A1", "S1"),
    doc="The flagship W3 chain (SURVEY §7.2 phase 1) on the events table: "
    "per-meter cumulative counters -> lead deltas -> minute explode -> "
    "peak/off-peak allocation -> end-labeled 15-min buckets.",
)
def q_electricity_15min(spark, sf_dir):
    return electricity_15min_frame(load(spark, sf_dir, "events"))


def electricity_15min_frame(ev):
    """The full 15-min usage chain over an events frame — shared by the
    flagship query and its sf10 bounded-slice twin below."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p_delta = F.when(F.col("event_type").isin(*PEAK_TYPES), F.col("value")).otherwise(
        F.lit(0.0)
    )
    op_delta = F.when(~F.col("event_type").isin(*PEAK_TYPES), F.col("value")).otherwise(
        F.lit(0.0)
    )
    readings = ev.select(
        "user_id",
        F.col("ts").alias("LocalDateTime"),
        F.sum(p_delta.cast("decimal(18,6)")).over(w).alias("P"),
        F.sum(op_delta.cast("decimal(18,6)")).over(w).alias("OP"),
    )
    out = fifteen_minute_usage(readings, series_keys=("user_id",), tz=None, max_gap_minutes=60)
    return out.select(
        "user_id",
        F.col("Bucket").alias("bucket"),
        F.col("MinDateTime").alias("min_ts"),
        F.col("MaxDateTime").alias("max_ts"),
        F.col("Minutes").alias("minutes"),
        F.col("P_Usage").alias("p_usage"),
        F.col("OP_Usage").alias("op_usage"),
    )


# ===========================================================================
# sf10 bounded-slice twins (round-10 verdict item 2)
# ===========================================================================

# Families whose FULL oracles are resource-infeasible at sf10
# (PARITY_r10_sf10: electricity_15min's per-minute explode CTE spills
# ~70 GB; snm_near_dup's pair CTEs exhaust the 24 GB cap on the
# 100x-verbatim corpus) get value-checked slice twins, each next to its
# parent (snm_near_dup_blockslice in dedup_lsh.py,
# weight_txt_parse_fileslice in pathbound.py): the SAME engine plan over
# a deterministic, semantics-preserving subset, with the oracle bounding
# itself BEFORE its expensive materialization.  These run at every
# scale (they are ordinary catalog entries), so the sf10 record can
# show the family value-checked instead of engine-only.

_ELEC_SLICE_MOD = 50
_ELEC_SLICE_REM = 7


@register(
    "electricity_15min_userslice",
    _electricity_oracle(
        source=(
            "(SELECT * FROM events "
            f"WHERE user_id % {_ELEC_SLICE_MOD} = {_ELEC_SLICE_REM})"
        )
    ),
    survey_ids=(),
    doc="electricity_15min's sf10 value-check twin: the identical "
    "15-min usage chain over the deterministic 1/50 METER slice "
    "(user_id % 50 = 7).  Meters are the series key — every window, "
    "gap cap and bucket in the chain partitions by user_id — so a "
    "whole-meter slice is exact, not approximate: each kept meter's "
    "output rows are bit-identical to its rows in the full run.  The "
    "oracle applies the same predicate INSIDE its source, before the "
    "per-minute explode, so its temp stays ~1/50 of the full run's "
    "(the full explode spilled ~70 GB at sf10 and died on disk).  "
    "The slice predicate reaches the parquet scan as a pushed filter "
    "on both engines.",
)
def q_electricity_15min_userslice(spark, sf_dir):
    ev = load(spark, sf_dir, "events").filter(
        F.col("user_id") % _ELEC_SLICE_MOD == _ELEC_SLICE_REM
    )
    return electricity_15min_frame(ev)
