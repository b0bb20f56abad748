"""Sketch and sampling catalog queries: HyperLogLog and count-min sketches,
bitmap distinct counts, heavy hitters, deterministic samples, and
distribution summaries (histograms, quantiles, MAD, mode, correlation).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import Window

from ..functions import md5_long, md5_long_sql
from ..operators import sketches as SK

from .catalog import load, register



@register(
    "value_percentiles",
    """
    SELECT event_type,
           quantile_cont(floor(value * 1000000)::BIGINT, 0.5) AS p50,
           quantile_cont(floor(value * 1000000)::BIGINT, 0.9) AS p90,
           quantile_cont(floor(value * 1000000)::BIGINT, 0.99) AS p99
    FROM events GROUP BY event_type
    """,
    survey_ids=("A8",),
    doc="Exact continuous percentiles (median/p90/p99) per event type "
    "over 1e-6-quantized values — Spark's exact percentile() and "
    "DuckDB's quantile_cont share the interpolation definition, and "
    "integer inputs make the result bit-deterministic.",
)
def q_value_percentiles(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    q = F.floor(F.col("value") * 1000000).cast("long")
    return ev.groupBy("event_type").agg(
        F.percentile(q, F.lit(0.5)).alias("p50"),
        F.percentile(q, F.lit(0.9)).alias("p90"),
        F.percentile(q, F.lit(0.99)).alias("p99"),
    )


@register(
    "order_quartiles",
    """
    WITH t AS (
      SELECT o_orderkey, o_totalprice,
             ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
      FROM orders
    )
    SELECT quartile::BIGINT AS quartile, count(*) AS n,
           min(o_totalprice) AS lo, max(o_totalprice) AS hi
    FROM t GROUP BY quartile
    """,
    survey_ids=("W4",),
    doc="ntile bucketing: equal-frequency quartiles over a total order "
    "(unique tiebreak makes the assignment deterministic), then "
    "per-bucket range stats — the binning step before stratified "
    "sampling or histogram equalization.  The Spark plan does NOT "
    "run the oracle's global single-partition ntile window: the "
    "global rank is a DISTRIBUTED PREFIX COUNT (the sequence_packing "
    "machinery on the SORT key) — rows shard by a coarse price "
    "bucket that follows the sort order, row_number runs per shard "
    "(bounded partitions), shard row-counts cumulate on the tiny "
    "shard frame and broadcast back, and ntile(4)'s bucket-size "
    "arithmetic (r = n%4 leading buckets get one extra row) is then "
    "a pure expression over rank — no task ever sees the whole "
    "table.  Shard width is a constant; at extreme scale it narrows "
    "(more shards), never a single partition.",
)
def q_order_quartiles(spark, sf_dir):
    from pyspark.sql import Window

    width = 512  # price-bucket shard width: ~1.1k shards over TPC-H's
    # o_totalprice range — each window partition is a price slice,
    # never the table.
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    t = o.withColumn(
        "__shard", F.floor(F.col("o_totalprice") / width).cast("long")
    )
    # Within-shard rank over the (price, key) total order: the shard
    # key is a prefix of the sort order, so shard offsets + local
    # row_number compose to the exact global rank.
    w_in = Window.partitionBy("__shard").orderBy("o_totalprice", "o_orderkey")
    within = t.withColumn("__lrk", F.row_number().over(w_in))
    counts = t.groupBy("__shard").agg(F.count(F.lit(1)).alias("__c"))
    # One row per shard: cumulating THEM globally is O(n_shards).
    # bounded-frame: one row per price-bucket shard
    w_off = Window.orderBy("__shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # bounded-frame: one row per price-bucket shard
    w_all = Window.orderBy("__shard").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offs = counts.select(
        "__shard",
        F.coalesce(F.sum("__c").over(w_off), F.lit(0)).alias("__off"),
        F.sum("__c").over(w_all).alias("__n"),
    )
    # ntile(4) semantics in exact integer arithmetic: the first n%4
    # buckets hold (n div 4)+1 rows, the rest (n div 4).  (base=0,
    # n<4 is safe: every rank lands in the first branch.)
    quartile = F.expr(
        """CASE WHEN __rk <= (__n div 4 + 1) * (__n % 4)
                THEN (__rk - 1) div (__n div 4 + 1) + 1
                ELSE (__n % 4)
                     + (__rk - (__n div 4 + 1) * (__n % 4) - 1)
                       div (__n div 4) + 1
           END"""
    ).cast("long")
    ranked = (
        within.join(F.broadcast(offs), "__shard")
        .withColumn("__rk", (F.col("__off") + F.col("__lrk")).cast("long"))
        .select("o_totalprice", quartile.alias("quartile"))
    )
    return ranked.groupBy("quartile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


@register(
    "hash_sample_events",
    f"""
    SELECT event_type, count(*) AS n,
           sum(floor(value * 1000000)::BIGINT)::BIGINT AS v_sum_e6
    FROM events
    WHERE ({md5_long_sql("event_id::VARCHAR")}) % 100 < 10
    GROUP BY event_type
    """,
    survey_ids=("P1",),
    doc="Deterministic 10% sample: md5-hash of the row key mod 100 — "
    "reproducible across engines, runs, AND scale-out (unlike "
    "rand()-based TABLESAMPLE), so a 100 TB debugging sample is stable "
    "run to run.  The predicate pushes to the scan like any filter.",
)
def q_hash_sample_events(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    keep = md5_long(F.col("event_id").cast("string")) % 100 < 10
    return (
        ev.filter(keep)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 1000000).cast("long")).alias("v_sum_e6"),
        )
    )


@register(
    "bitmap_distinct_users",
    """
    SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
    FROM events GROUP BY event_type
    """,
    survey_ids=("A1", "A3"),
    doc="EXACT per-group distinct counting via 64-bit-word bitmaps: "
    "each user id maps to (word = id div 64, bit = id mod 64); the "
    "first aggregate bit_or's words per (group, word) WITH map-side "
    "partial combine, the second sums bit_count(word).  Same tiny-"
    "state shuffle shape as the HLL sketch but exact, because ids "
    "are dense integers — COUNT(DISTINCT) without ever shipping or "
    "re-shuffling raw ids, and the bitmap state is mergeable across "
    "partitions/days by the same bit_or.  The oracle is the plain "
    "COUNT(DISTINCT) it must equal.",
)
def q_bitmap_distinct_users(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    # Arithmetic shift = FLOOR division, consistent with pmod's floor
    # modulus for negative ids (`div` truncates toward zero, which
    # would collide id -1 with id 63 in word 0).
    words = ev.groupBy(
        "event_type", F.expr("shiftright(user_id, 6)").alias("word")
    ).agg(
        F.expr("bit_or(shiftleft(1L, cast(pmod(user_id, 64) as int)))").alias("bits")
    )
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).alias("n_users")
    )


@register(
    "bitmap_rolling_users_7d",
    """
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    pairs AS (SELECT DISTINCT CAST(ts AS DATE) AS ed, user_id FROM events)
    SELECT days.day, count(DISTINCT user_id)::BIGINT AS n_users_7d
    FROM days JOIN pairs
      ON datediff('day', pairs.ed, days.day) BETWEEN 0 AND 6
    GROUP BY days.day
    """,
    survey_ids=("A3", "W3"),
    doc="Rolling 7-day EXACT distinct users per day via bitmap merge: "
    "daily (word, bits) bitmaps -> dense day x word grid -> per-word "
    "trailing-range bit_or window -> per-day popcount sum.  The "
    "companion to hll_rolling_users_7d with the same decomposition "
    "trick (bit_or, like register max, IS window-mergeable even "
    "though COUNT DISTINCT is not) but zero error, applicable when "
    "ids are dense integers: the window slides over "
    "|id-domain|/64-word state per day instead of re-touching every "
    "event 7x, and the oracle is the plain rolling COUNT(DISTINCT) "
    "it must equal.",
)
def q_bitmap_rolling_users_7d(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    # Un-cached (round-13 A/B: cached 0.78 s vs 0.65 s without at
    # sf0.1, checksum-identical): the three consumers (daily bitmaps,
    # day domain, word domain) re-derive three cheap projections from
    # the pruned scan; an events-sized cache only added build cost and
    # memory pressure (guide §5).
    base = ev.select(
        F.to_date("ts").alias("day"),
        F.expr("shiftright(user_id, 6)").alias("word"),
        F.expr("shiftleft(1L, cast(pmod(user_id, 64) as int))").alias("bit"),
    )
    daily = base.groupBy("day", "word").agg(F.expr("bit_or(bit)").alias("bits"))
    days = base.select("day").distinct()
    words = base.select("word").distinct()
    # Dense grid: a word silent on day d must still carry its trailing
    # bits into d's window (same shape as the HLL register grid).
    grid = days.crossJoin(F.broadcast(words))
    joined = grid.join(daily, ["day", "word"], "left")
    w = (
        Window.partitionBy("word")
        .orderBy(F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")))
        .rangeBetween(-6, 0)
    )
    rolled = joined.withColumn("bits7", F.expr("bit_or(bits)").over(w))
    return rolled.groupBy("day").agg(
        F.sum(F.coalesce(F.bit_count("bits7"), F.lit(0)))
        .cast("long")
        .alias("n_users_7d")
    )


_HIST_BINS = 20


@register(
    "value_histogram",
    f"""
    WITH ext AS (
        SELECT event_type, min(value) AS lo, max(value) AS hi
        FROM events WHERE value IS NOT NULL GROUP BY event_type
    )
    SELECT e.event_type,
           least(floor(((e.value - x.lo) * {_HIST_BINS}.0) / (x.hi - x.lo)),
                 {_HIST_BINS - 1}.0)::BIGINT AS bin,
           count(*)::BIGINT AS n
    FROM events e JOIN ext x ON e.event_type = x.event_type
    WHERE e.value IS NOT NULL AND x.hi > x.lo
    GROUP BY 1, 2
    """,
    survey_ids=("A1", "A8"),
    doc=f"Equi-width histogram ({_HIST_BINS} bins per event type): the "
    "two-pass profiling primitive — a tiny per-group min/max "
    "aggregate broadcasts back and every row bins itself with pure "
    "IEEE arithmetic (identical across engines; the max value clamps "
    "into the last bin).  Complements the equi-DEPTH value_deciles: "
    "deciles need a per-group sort, histograms only the broadcast "
    "and one keyed count — the cheap first look at a distribution "
    "at 100 TB.  Degenerate groups (hi == lo) are excluded rather "
    "than divided by zero.",
)
def q_value_histogram(spark, sf_dir):
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    ext = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    joined = ev.join(F.broadcast(ext), "event_type").filter(F.col("hi") > F.col("lo"))
    bin_col = F.least(
        F.floor(((F.col("value") - F.col("lo")) * F.lit(float(_HIST_BINS))) / (F.col("hi") - F.col("lo"))),
        F.lit(float(_HIST_BINS - 1)),
    ).cast("long")
    return joined.groupBy("event_type", bin_col.alias("bin")).agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "hll_user_counts",
    f"""
    WITH hll AS (
        {SK.sql_hll_distinct('events', 'event_type', 'user_id')}
    ), exact AS (
        SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact
        FROM events GROUP BY event_type
    )
    SELECT exact.event_type, exact.n_exact, hll.hll_distinct,
           (hll.hll_distinct - exact.n_exact::DOUBLE) / exact.n_exact::DOUBLE
               AS rel_err
    FROM exact JOIN hll ON exact.event_type = hll.event_type
    """,
    survey_ids=("A3", "A8"),
    doc="HyperLogLog distinct users per event type, reported against "
    "the exact count.  The sketch shuffles 256 registers per group "
    "instead of every distinct value — the COUNT(DISTINCT) that still "
    "works when the value set itself is 100 TB.  Deterministic md5 "
    "hashing + integer-exact register sums make even the approximate "
    "estimate bit-reproducible in DuckDB (operators/sketches.py).",
)
def q_hll_user_counts(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    hll = SK.hll_distinct(ev, ["event_type"], "user_id")
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("n_exact")
    )
    return exact.join(hll, "event_type").select(
        "event_type",
        "n_exact",
        "hll_distinct",
        (
            (F.col("hll_distinct") - F.col("n_exact").cast("double"))
            / F.col("n_exact").cast("double")
        ).alias("rel_err"),
    )


@register(
    "cms_user_counts",
    f"""
    WITH est AS (
        {SK.sql_cms('events', 'user_id',
                    'SELECT DISTINCT user_id AS key FROM events')}
    ), exact AS (
        SELECT user_id, count(*)::BIGINT AS n_exact
        FROM events GROUP BY user_id
    )
    SELECT exact.user_id, exact.n_exact, est.cms_est,
           (est.cms_est - exact.n_exact)::BIGINT AS overcount
    FROM exact JOIN est ON exact.user_id = est.key
    """,
    survey_ids=("A1", "A8"),
    doc="Count-Min frequency sketch: 4 x 256 counter cells built with "
    "one map-side-combined aggregation (shuffle moves <= 1024 cells "
    "per partition regardless of stream length or key cardinality — "
    "the frequency companion to hll_user_counts), probed per user "
    "against the broadcast cells.  est >= exact always (collisions "
    "only add); the overcount column exposes the error in-data.",
)
def q_cms_user_counts(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    cells = SK.cms_build(ev, "user_id")
    keys = ev.select("user_id").distinct()
    est = SK.cms_probe(cells, keys, "user_id")
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    return exact.join(est, "user_id").select(
        "user_id",
        "n_exact",
        "cms_est",
        (F.col("cms_est") - F.col("n_exact")).cast("long").alias("overcount"),
    )


def _rolling_oracle() -> str:
    bucket, rho = SK.sql_register_exprs("user_id")
    raw, final = SK.sql_estimate("z_occ", "nb")
    term = SK.sql_register_term("mj7")
    return f"""
    WITH base AS (
        SELECT CAST(ts AS DATE) AS day, {bucket} AS b, {rho} AS rho FROM events
    ), regs AS (
        SELECT day, b, max(rho) AS mj FROM base GROUP BY day, b
    ), days AS (SELECT DISTINCT day FROM base),
    buckets AS (SELECT unnest(range(0, {SK.M})) AS b),
    grid AS (SELECT days.day, buckets.b FROM days, buckets),
    joined AS (
        SELECT grid.day, grid.b, regs.mj
        FROM grid LEFT JOIN regs ON grid.day = regs.day AND grid.b = regs.b
    ), rolled AS (
        SELECT day, b,
               max(mj) OVER (PARTITION BY b
                             ORDER BY datediff('day', DATE '1970-01-01', day)
                             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS mj7
        FROM joined
    ), folded AS (
        SELECT day, sum({term}) AS z_occ, count(mj7) AS nb
        FROM rolled GROUP BY day
    ), est AS (
        SELECT day, {final} AS hll_users_7d
        FROM (SELECT day, nb, {raw} AS raw FROM folded)
    ), pairs AS (
        SELECT DISTINCT CAST(ts AS DATE) AS ed, user_id FROM events
    ), exact AS (
        SELECT days.day, count(DISTINCT user_id)::BIGINT AS n_exact
        FROM days JOIN pairs
          ON datediff('day', pairs.ed, days.day) BETWEEN 0 AND 6
        GROUP BY days.day
    )
    SELECT exact.day, exact.n_exact, est.hll_users_7d,
           (est.hll_users_7d - exact.n_exact::DOUBLE) / exact.n_exact::DOUBLE
               AS rel_err
    FROM exact JOIN est ON exact.day = est.day
    """


@register(
    "hll_rolling_users_7d",
    _rolling_oracle(),
    survey_ids=("A3", "W3"),
    doc="Rolling 7-day distinct users per day via HLL register MERGE: "
    "daily (bucket, max-rho) registers -> dense day x 256 grid -> "
    "per-bucket trailing-range window max -> per-day register fold.  "
    "Rolling COUNT(DISTINCT) is not decomposable — the exact form "
    "re-touches every event 7x — but register max() IS, so the "
    "window slides over 256-value sketch state per day regardless of "
    "data volume.  The exact count rides along for accuracy review "
    "(at 100 TB you would drop it; here it doubles as the oracle's "
    "verification column).",
)
def q_hll_rolling_users_7d(spark, sf_dir):
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    bucket, rho = SK.register_cols(F.col("user_id"))
    base = ev.select(F.to_date("ts").alias("day"), bucket.alias("b"), rho.alias("rho"))
    regs = base.groupBy("day", "b").agg(F.max("rho").alias("mj"))
    days = base.select("day").distinct()
    buckets = spark.range(SK.M).select(F.col("id").alias("b"))
    grid = days.crossJoin(F.broadcast(buckets))
    joined = grid.join(regs, ["day", "b"], "left")
    w = (
        Window.partitionBy("b")
        .orderBy(F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")))
        .rangeBetween(-6, 0)
    )
    rolled = joined.withColumn("mj7", F.max("mj").over(w))
    folded = rolled.groupBy("day").agg(
        F.sum(SK.register_term(F.col("mj7"))).alias("z_occ"),
        F.count("mj7").alias("nb"),
    )
    est = folded.select(
        "day", SK.estimate_expr(F.col("z_occ"), F.col("nb")).alias("hll_users_7d")
    )
    pairs = ev.select(F.to_date("ts").alias("ed"), "user_id").distinct()
    dd = F.datediff(F.col("day"), F.col("ed"))
    exact = (
        days.join(pairs, (dd >= 0) & (dd <= 6))
        .groupBy("day")
        .agg(F.count_distinct("user_id").cast("long").alias("n_exact"))
    )
    return exact.join(est, "day").select(
        "day",
        "n_exact",
        "hll_users_7d",
        (
            (F.col("hll_users_7d") - F.col("n_exact").cast("double"))
            / F.col("n_exact").cast("double")
        ).alias("rel_err"),
    )


# --- deterministic stratified sampling -------------------------------------

_RATES = {"click": 0.10, "view": 0.05, "purchase": 1.0, "signup": 0.5, "error": 0.25}


@register(
    "stratified_sample_events",
    f"""
    SELECT event_id, event_type, user_id, value
    FROM events
    WHERE {SK.sql_stratified_predicate('event_type', _RATES, 'event_id')}
    """,
    survey_ids=("P5",),
    doc="Per-stratum deterministic sampling: rare strata kept whole, "
    "bulk strata thinned, membership decided by md5(event_id) — a "
    "pure scan-side predicate (no shuffle, no RNG state) that keeps "
    "the SAME rows across runs, retries, and engine versions, which "
    "per-partition RNG samplers (df.sampleBy) cannot.",
)
def q_stratified_sample_events(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return SK.stratified_sample(ev, "event_type", _RATES, "event_id").select(
        "event_id", "event_type", "user_id", "value"
    )


_WSAMP_K = 64
# 2^53: the largest power of two whose integer range doubles represent
# exactly — u = (md5 % 2^53) / 2^53 is an exact IEEE division in both
# engines (e-notation literal: DuckDB parses plain decimals as DECIMAL).
_WSAMP_MOD = 9007199254740992


@register(
    "weighted_sample_events",
    f"""
    WITH w AS (
        SELECT event_id, user_id, value,
               cast(({md5_long_sql("'wsamp:' || event_id::VARCHAR")})
                    % {_WSAMP_MOD} as double) / 9.007199254740992e15 AS u
        FROM events WHERE value IS NOT NULL AND value > 0e0
    )
    SELECT event_id, user_id, value,
           floor((u / value) * 1e12)::BIGINT AS pri_e12
    FROM w
    ORDER BY u / value, event_id
    LIMIT {_WSAMP_K}
    """,
    survey_ids=("P5", "O5"),
    doc="Deterministic weighted sampling without replacement "
    f"(top-{_WSAMP_K}): sequential Poisson / priority sampling "
    "(Ohlsson) — each row gets priority u/w with u a uniform md5-"
    "derived rational and w its weight; the k smallest priorities are "
    "a weighted sample.  The mixture-construction primitive when "
    "examples carry importance weights (quality scores, dedup "
    "multiplicities): heavier rows draw smaller priorities "
    "proportionally more often.  No ln() (the exponential-sort "
    "formulation -ln(u)/w is NOT bit-portable; the rational "
    "priority's argsort is identical and IEEE-exact), no RNG state — "
    "re-runs, retries, and engines agree row-for-row.  Plan: scan-"
    "side projection + TakeOrderedAndProject; zero shuffles, no "
    "global sort.",
)
def q_weighted_sample_events(spark, sf_dir):
    from ..functions import md5_long

    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") > 0)
    )
    u = (
        md5_long(F.concat(F.lit("wsamp:"), F.col("event_id").cast("string")))
        % F.lit(_WSAMP_MOD)
    ).cast("double") / F.lit(9.007199254740992e15)
    pri = (u / F.col("value")).alias("__pri")
    return (
        ev.select("event_id", "user_id", "value", pri)
        .orderBy("__pri", "event_id")
        .limit(_WSAMP_K)
        .select(
            "event_id",
            "user_id",
            "value",
            F.floor(F.col("__pri") * F.lit(1e12)).cast("long").alias("pri_e12"),
        )
    )


@register(
    "mad_value_by_type",
    """
    WITH q AS (
        SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS q
        FROM events
    ), med AS (
        SELECT event_type, quantile_cont(q, 0.5) AS med FROM q
        GROUP BY event_type
    )
    SELECT q.event_type,
           quantile_cont(abs(q.q::DOUBLE - med.med), 0.5) AS mad
    FROM q JOIN med ON q.event_type = med.event_type
    GROUP BY q.event_type
    """,
    survey_ids=("A8",),
    doc="Median absolute deviation per event type — the robust spread "
    "statistic.  Nested median: per-group median (exact percentile "
    "over quantized ints), broadcast back, second exact percentile of "
    "absolute deviations.  The deviations are exact doubles (integer "
    "minus half-integer median), so both engines interpolate "
    "identically.  Two keyed aggregations, one broadcast join.",
)
def q_mad_value_by_type(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    q = ev.select("event_type", F.floor(F.col("value") * 1000000).cast("long").alias("q"))
    med = q.groupBy("event_type").agg(F.percentile(F.col("q"), F.lit(0.5)).alias("med"))
    return (
        q.join(F.broadcast(med), "event_type")
        .select("event_type", F.abs(F.col("q").cast("double") - F.col("med")).alias("d"))
        .groupBy("event_type")
        .agg(F.percentile(F.col("d"), F.lit(0.5)).alias("mad"))
    )


@register(
    "mode_value_by_type",
    """
    SELECT event_type, q AS mode_q, n FROM (
        SELECT event_type, q, n,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY n DESC, q ASC) AS rn
        FROM (
            SELECT event_type, CAST(floor(value * 10.0) AS BIGINT) AS q,
                   count(*)::BIGINT AS n
            FROM events GROUP BY event_type, q
        )
    ) WHERE rn = 1
    """,
    survey_ids=("A1", "W4"),
    doc="Exact mode (most frequent decile-quantized value) per event "
    "type: count aggregation with map-side partials, then a top-1 "
    "window over the small (group, bucket) count frame with a total "
    "tie-break order.  The heavy shuffle carries (group, bucket) "
    "counts, never rows.",
)
def q_mode_value_by_type(spark, sf_dir):
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    counts = (
        ev.select("event_type", F.floor(F.col("value") * 10.0).cast("long").alias("q"))
        .groupBy("event_type", "q")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc(), F.col("q").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("q").alias("mode_q"), "n")
    )


@register(
    "corr_value_hour",
    """
    SELECT event_type, n_rows,
           (n*sxy - sx*sy)::DOUBLE
             / (sqrt((n*sxx - sx*sx)::DOUBLE) * sqrt((n*syy - sy*sy)::DOUBLE))
               AS corr_xy
    FROM (
        SELECT event_type,
               count(*)::BIGINT AS n_rows,
               count(*)::HUGEINT AS n,
               sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
               sum(x*x)::HUGEINT AS sxx, sum(y*y)::HUGEINT AS syy,
               sum(x*y)::HUGEINT AS sxy
        FROM (
            SELECT event_type, hour(ts)::BIGINT AS x,
                   CAST(floor(value * 100.0) AS BIGINT) AS y
            FROM events
        ) GROUP BY event_type
    )
    """,
    survey_ids=("A1", "A8"),
    doc="Pearson correlation (value vs hour-of-day) per event type from "
    "EXACT integer moment sums: quantized inputs, decimal(38) partials "
    "(order-independent, overflow-safe), then one double conversion + "
    "IEEE-correctly-rounded sqrt — so even a float statistic is "
    "bit-identical across engines.  Single map-side-combined "
    "aggregation: the moment sums are the whole shuffle.",
)
def q_corr_value_hour(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    d = ev.select(
        "event_type",
        F.hour("ts").cast("long").alias("x"),
        F.floor(F.col("value") * 100.0).cast("long").alias("y"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(dec(F.col("y") * F.col("y"))).alias("syy"),
        F.sum(dec(F.col("x") * F.col("y"))).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return agg.select(
        "event_type",
        "n_rows",
        (num / (F.sqrt(denx) * F.sqrt(deny))).alias("corr_xy"),
    )


@register(
    "heavy_hitters",
    """
    WITH cand AS (
        SELECT user_id, count(*)::BIGINT AS sampled_n
        FROM events
        WHERE {sample} % 16 = 0
        GROUP BY user_id
        HAVING count(*) >= 4
    ), est AS (
        {cms}
    ), exact AS (
        SELECT e.user_id, count(*)::BIGINT AS n_exact
        FROM events e JOIN cand ON e.user_id = cand.user_id
        GROUP BY e.user_id
    )
    SELECT cand.user_id, cand.sampled_n, est.cms_est, exact.n_exact,
           (exact.n_exact >= 64) AS is_heavy
    FROM cand
    JOIN est ON cand.user_id = est.key
    JOIN exact ON cand.user_id = exact.user_id
    """.format(
        sample=md5_long_sql("'hh:' || CAST(event_id AS VARCHAR)"),
        # Outer CTEs are visible inside sql_cms's nested WITH, so the
        # candidate definition lives in ONE place.
        cms=SK.sql_cms("events", "user_id", "SELECT user_id AS key FROM cand"),
    ),
    survey_ids=("A1", "A8"),
    doc="Bounded-memory heavy hitters, the pattern that replaces a "
    "full GROUP BY when the key domain itself is too large to hold: "
    "(1) a deterministic 1/16 row sample (md5 on event_id — "
    "retry-stable, no RNG) nominates candidate keys, (2) the "
    "constant-state Count-Min sketch estimates their frequency, "
    "(3) an exact count restricted to the candidate set (joined "
    "against the bounded candidate frame) verifies.  Only step 3 "
    "touches per-candidate state; steps 1-2 are map-side "
    "sample-filter + 1024 sketch cells regardless of cardinality.",
)
def q_heavy_hitters(spark, sf_dir):
    from ..functions import md5_long

    ev = load(spark, sf_dir, "events")
    sampled = ev.filter(
        md5_long(F.concat(F.lit("hh:"), F.col("event_id").cast("string"))) % 16 == 0
    )
    cand = (
        sampled.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("sampled_n"))
        .filter(F.col("sampled_n") >= 4)
    )
    cells = SK.cms_build(ev, "user_id")
    est = SK.cms_probe(cells, cand.select("user_id"), "user_id")
    exact = (
        ev.join(F.broadcast(cand.select("user_id")), "user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    return (
        cand.join(est, "user_id")
        .join(exact, "user_id")
        .select(
            "user_id",
            "sampled_n",
            "cms_est",
            "n_exact",
            (F.col("n_exact") >= 64).alias("is_heavy"),
        )
    )
