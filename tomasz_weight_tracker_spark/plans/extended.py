"""Extended catalog: operators beyond the first wave — as-of join,
rollup/grouping sets, anchored weekly resample (A5), keyword
classification (G4), relative-date resolution (T8), tolerant equality
(G5) — each over the driver tables with an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import md5_long, md5_long_sql, values_close
from ..operators.asof import asof_join
from ..operators.dedup import dedup_keep_last
from ..operators.time_ops import week_anchor_offset
from ..pipelines.jobsearch import KNOWN_STATUSES, classify_status
from .catalog import davg, dsum, load, register, sql_davg, sql_dsum, star_preagg


@register(
    "asof_join_purchases",
    """
    WITH clicks AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    ), purch AS (
      SELECT user_id, ts, max_by(value, event_id) AS value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    )
    SELECT c.user_id, c.event_id, p.value AS value_asof
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    survey_ids=("J3",),
    doc="As-of join (extension per SURVEY §2.3): each click gains the "
    "latest purchase value at-or-before its timestamp, via the "
    "union + last-value-window strategy (one shuffle).",
)
def q_asof_join(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("value"))
    )
    out = asof_join(clicks, purch, keys=["user_id"], ts_col="ts", value_cols=("value",))
    return out.select("user_id", "event_id", F.col("value_asof"))


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
    "weekly_resample",
    f"""
    SELECT (ts::DATE + (((5 - isodow(ts::DATE) + 7) % 7)::INT)) AS period,
           {sql_davg('value')} AS avg_value, count(*) AS n
    FROM events GROUP BY period
    """,
    survey_ids=("A5",),
    doc="Anchored weekly resample (pandas .resample('W-FRI').mean()): "
    "7-day tumbling window with the epoch offset that makes windows "
    "end on Friday (utils/20251223-weight-for-streamlit.py:327-345).",
)
def q_weekly_resample(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "7 days", startTime=week_anchor_offset("FRI"))
    return (
        ev.groupBy(win.alias("w"))
        .agg(davg("value").alias("avg_value"), F.count(F.lit(1)).alias("n"))
        .select(
            F.to_date(F.col("w.end") - F.expr("INTERVAL 1 DAY")).alias("period"),
            "avg_value",
            "n",
        )
    )


_G4_SQL_CASE = "CASE " + " ".join(
    f"WHEN contains(lower(text), '{kw}') THEN '{label}'" for kw, label in KNOWN_STATUSES
) + " ELSE 'Applied' END"


@register(
    "keyword_classify",
    f"""
    SELECT {_G4_SQL_CASE} AS status, count(*) AS n_docs,
           min(doc_id) AS first_doc
    FROM documents GROUP BY status
    """,
    survey_ids=("G4",),
    doc="Ordered keyword classification (first match wins, 'unsuccessful' "
    "before 'successful', default 'Applied' — utils/loose_thoughts.py:161-168) "
    "as a chained-when over document text.",
)
def q_keyword_classify(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return (
        d.withColumn("status", classify_status(F.col("text")))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("first_doc"))
    )


@register(
    "relative_dates",
    """
    SELECT event_id,
           (ts::DATE - INTERVAL ((event_id % 30)::INT) DAY)::DATE AS resolved
    FROM events
    """,
    survey_ids=("T8",),
    doc="Relative-date resolution: '<N> days ago' regex -> date_sub "
    "(utils/loose_thoughts.py:191-196), N synthesized from event_id.",
)
def q_relative_dates(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    line = F.concat(F.lit("seen "), (F.col("event_id") % 30).cast("string"), F.lit(" days ago"))
    n = F.regexp_extract(line, r"(\d+)\s+day[^\s]*\s+ago", 1).cast("int")
    return ev.select(
        "event_id", F.date_sub(F.to_date("ts"), n).alias("resolved")
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
    "dedup_keep_last_global",
    """
    SELECT source, doc_id, lang FROM documents
    QUALIFY row_number() OVER (PARTITION BY source, lang ORDER BY doc_id DESC) = 1
    """,
    survey_ids=("A6",),
    doc="Keep-last dedup over the documents table (per source+lang).",
)
def q_dedup_keep_last_global(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return dedup_keep_last(d, ["source", "lang"], [F.col("doc_id")]).select(
        "source", "doc_id", "lang"
    )


@register(
    "embed_near_dup",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
             AS cosine
    FROM e a JOIN e b
      ON a.label = b.label AND a.vec_id < b.vec_id AND b.vec_id - a.vec_id <= 50
    WHERE list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) > 0.25
    """,
    survey_ids=(),
    doc="Embedding-cosine near-dup: bounded candidate pairs within a "
    "label partition, kept when cosine > 0.25 (the embedding twin of "
    "the MinHash near-dup family).",
)
def q_embed_near_dup(spark, sf_dir):
    from ..operators.similarity import dot

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    a, b = e.alias("a"), e.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / (
        F.sqrt(dot(F.col("a.v"), F.col("a.v"))) * F.sqrt(dot(F.col("b.v"), F.col("b.v")))
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id"))
            & (F.col("b.vec_id") - F.col("a.vec_id") <= 50),
        )
        .withColumn("cosine", cos)
        .filter(F.col("cosine") > 0.25)
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"), "cosine")
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


_PEAK_MIN = "(hour(ts) * 60 + minute(ts)) > 390 AND (hour(ts) * 60 + minute(ts)) <= 1410"


@register(
    "streaming_bucket_15min",
    f"""
    SELECT make_timestamp(((floor(floor(epoch(ts - INTERVAL 1 MINUTE)) / 900) * 900)::BIGINT) * 1000000) AS bucket,
           count(*) AS n_events,
           {sql_dsum(f"CASE WHEN {_PEAK_MIN} THEN value ELSE 0.0 END")} AS p_value,
           {sql_dsum(f"CASE WHEN {_PEAK_MIN} THEN 0.0 ELSE value END")} AS op_value
    FROM events GROUP BY bucket
    """,
    survey_ids=("ST1", "A1", "T7"),
    doc="A REAL Structured Streaming execution inside the correctness "
    "gate: the events table is replayed through a file-source stream "
    "into the watermarked end-labeled 15-minute aggregation with an "
    "availableNow trigger; the drained result must equal the batch SQL "
    "oracle — stream/batch parity, oracle-checked.",
)
def q_streaming_bucket_15min(spark, sf_dir):
    from ..operators.time_ops import peak_category
    from ..streaming.pipelines import drain_to_memory, stream_events

    df = stream_events(spark, sf_dir)
    shifted = F.col("ts") - F.expr("INTERVAL 1 MINUTE")
    agg = (
        df.withWatermark("ts", "1 hour")
        .withColumn("__cat", peak_category(F.col("ts")))
        .groupBy(F.window(shifted, "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(F.col("__cat") == "P", F.col("value")).otherwise(F.lit(0.0)).cast("decimal(18,4)")
            ).cast("double").alias("p_value"),
            F.sum(
                F.when(F.col("__cat") == "OP", F.col("value")).otherwise(F.lit(0.0)).cast("decimal(18,4)")
            ).cast("double").alias("op_value"),
        )
        .select(F.col("w.start").alias("bucket"), "n_events", "p_value", "op_value")
    )
    return drain_to_memory(spark, agg, "sbucket", "complete")


@register(
    "streaming_hopping_counts",
    """
    WITH b AS (
        SELECT event_type, epoch_us(ts) // 900000000 AS bk FROM events
    ), u AS (
        SELECT event_type, bk * 900000000 AS start_us FROM b
        UNION ALL
        SELECT event_type, (bk - 1) * 900000000 FROM b
    )
    SELECT make_timestamp(start_us) AS w_start, event_type,
           count(*)::BIGINT AS n_events
    FROM u GROUP BY 1, 2
    """,
    survey_ids=("ST1", "A1", "T7"),
    doc="HOPPING (sliding) window counts in the streaming gate: 30-"
    "minute windows every 15 minutes, so each event lands in exactly "
    "two overlapping windows — the dashboard smoothing shape tumbling "
    "windows can't express.  F.window(ts, '30 minutes', '15 minutes') "
    "replicates rows to their windows BEFORE the keyed aggregation "
    "(state is per (window, type), bounded by the watermark horizon; "
    "the replication factor is window/slide = 2, a constant).  The "
    "batch oracle derives both window starts per event with integer "
    "microsecond arithmetic and must match the drained stream "
    "hash-exactly.",
)
def q_streaming_hopping_counts(spark, sf_dir):
    from ..streaming.pipelines import drain_to_memory, stream_events

    df = stream_events(spark, sf_dir)
    agg = (
        df.withWatermark("ts", "1 hour")
        .groupBy(
            F.window("ts", "30 minutes", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n_events")
    )
    return drain_to_memory(spark, agg, "shop", "complete")


@register(
    "streaming_upsert_state",
    """
    SELECT user_id, qv AS last_qv, ts AS last_ts FROM (
        SELECT user_id, floor(value * 1e4)::BIGINT AS qv, ts, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE value IS NOT NULL
    ) WHERE rn = 1
    """,
    survey_ids=("ST1", "S11", "W4"),
    doc="Streaming CDC-apply in the gate: the events stream drains "
    "through stream_upsert's foreachBatch MERGE sink into a keyed "
    "parquet state table — each batch keeps its last row per user "
    "(row_number inside foreachBatch, where window functions are "
    "legal) and merges RECENCY-wins on (ts, event_id) via the sink's "
    "order_by, so the table converges to global keep-last-per-key "
    "however the source batches the input (round-5 advice: plain "
    "replace-by-key is last-BATCH-wins and only matched the oracle "
    "because availableNow read one file in one batch).  The final "
    "table must equal the batch keep-last oracle.  This is the "
    "exactly-once sink path (checkpoint tracks input; the merge is "
    "idempotent, so batch replay after a crash is a no-op).",
)
def q_streaming_upsert_state(spark, sf_dir):
    from pyspark.sql import Window as W

    from ..session import scratch_dir
    from ..streaming.pipelines import await_drain, stream_events, stream_upsert

    df = stream_events(spark, sf_dir).filter(F.col("value").isNotNull()).select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.col("value") * F.lit(1e4)).cast("long").alias("qv"),
    )

    def keep_last(batch):
        w = W.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "user_id",
                F.col("qv").alias("last_qv"),
                F.col("ts").alias("last_ts"),
                # Recency tiebreaker for the merge: stored so a later
                # batch with an equal-ts row resolves deterministically.
                F.col("event_id").alias("last_event_id"),
            )
        )

    # Process-lifetime scratch: the state table outlives this function,
    # so the result is a plain parquet read — no driver-side collect of
    # per-key state (round-5 verdict item 4).
    d = scratch_dir("stream_upsert")
    q = stream_upsert(
        df,
        f"{d}/state",
        keys=["user_id"],
        checkpoint=f"{d}/ckpt",
        prepare=keep_last,
        order_by=["last_ts", "last_event_id"],
    ).start()
    await_drain(q, "streaming_upsert_state")
    return spark.read.parquet(f"{d}/state").select("user_id", "last_qv", "last_ts")


@register(
    "gap_fill_interpolate",
    """
    WITH s AS (
      SELECT user_id, ts, value,
             lead(ts) OVER w AS nts, lead(value) OVER w AS nval
      FROM events WHERE user_id < 10
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), capped AS (
      SELECT *, least(nts - INTERVAL 1 MINUTE, ts + INTERVAL 120 MINUTES) AS gend
      FROM s
    ), grid AS (
      SELECT user_id, ts, value, nts, nval,
             unnest(generate_series(ts, gend, INTERVAL 1 MINUTE)) AS m
      FROM capped WHERE nts IS NOT NULL
      UNION ALL
      SELECT user_id, ts, value, NULL, NULL, ts FROM s WHERE nts IS NULL
    )
    SELECT user_id, m AS ts,
           CASE WHEN nts IS NULL OR m = ts THEN value
                ELSE value + (nval - value)
                     * ((epoch_us(m) - epoch_us(ts))::DOUBLE / (epoch_us(nts) - epoch_us(ts))::DOUBLE)
           END AS value
    FROM grid
    """,
    survey_ids=("T4", "W1"),
    doc="Gap-fill onto a 1-minute grid with linear interpolation "
    "(regularization of the reference's gappy 1-min sensor series): "
    "lead window + sequence explode + codegen'd weight expression; "
    "ONE shuffle, amplification capped at 120 minutes per gap.",
)
def q_gap_fill_interpolate(spark, sf_dir):
    from ..operators.resample_fill import fill_minute_gaps

    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    return fill_minute_gaps(
        ev,
        ts_col="ts",
        value_cols=["value"],
        series_keys=["user_id"],
        order_tiebreak=["event_id"],
        max_gap_minutes=120,
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
    "dup_clusters",
    """
    WITH RECURSIVE t AS (SELECT doc_id, source,
               CASE WHEN trim(lower(coalesce(text, ''))) = '' THEN []::VARCHAR[]
                    ELSE list_distinct(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'))
               END AS toks
               FROM documents WHERE doc_id < 200),
    edges0 AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM t a JOIN t b
        ON a.source = b.source AND a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 40
      WHERE len(a.toks) + len(b.toks) > 0
        AND len(list_filter(a.toks, x -> list_contains(b.toks, x)))::DOUBLE
            / (len(a.toks) + len(b.toks) - len(list_filter(a.toks, x -> list_contains(b.toks, x))))::DOUBLE
            > 0.5
    ),
    edges AS (SELECT u, v FROM edges0 UNION SELECT v, u FROM edges0),
    nodes AS (SELECT DISTINCT u AS id FROM edges),
    walk AS (
      SELECT id, id AS reach FROM nodes
      UNION
      SELECT w.id, e.v AS reach FROM walk w JOIN edges e ON e.u = w.reach
    ),
    comp AS (SELECT id, min(reach) AS component FROM walk GROUP BY id)
    SELECT component, count(*) AS n_members, min(id) AS canonical_id
    FROM comp GROUP BY component
    """,
    survey_ids=("A7",),
    doc="Duplicate-cluster resolution: Jaccard>0.5 candidate pairs -> "
    "transitive closure via iterative min-label propagation (the "
    "iterative-algorithm surface; driver loop + localCheckpoint per "
    "round).  Oracle computes the same components with a recursive CTE.",
)
def q_dup_clusters(spark, sf_dir):
    from ..functions import tokens
    from ..operators import dedup as D
    from ..operators.clusters import canonicalize, connected_components

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    t = d.select("doc_id", "source", tokens(F.lower(F.col("text"))).alias("toks"))
    a, b = t.alias("a"), t.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.doc_id") - F.col("a.doc_id") <= 40),
        )
        .withColumn("j", D.jaccard_exprs(F.col("a.toks"), F.col("b.toks")))
        .filter(F.col("j") > 0.5)
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    comps = connected_components(pairs)
    return canonicalize(comps)


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
    "regression_slope_per_user",
    """
    WITH q AS (
      SELECT user_id,
             (floor(epoch(ts))::BIGINT - 1700000000) AS x,
             floor(value * 1000000)::BIGINT AS y
      FROM events
    )
    SELECT user_id, count(*) AS n,
           CASE WHEN count(*)::HUGEINT * sum((x * x)::HUGEINT) - sum(x::HUGEINT) * sum(x::HUGEINT) <> 0
                THEN ((count(*)::HUGEINT * sum((x * y)::HUGEINT) - sum(x::HUGEINT) * sum(y::HUGEINT)) * 1000000
                      // (count(*)::HUGEINT * sum((x * x)::HUGEINT) - sum(x::HUGEINT) * sum(x::HUGEINT)))::BIGINT
           END AS slope_e6
    FROM q GROUP BY user_id
    """,
    survey_ids=("A1", "A8"),
    doc="Per-series least-squares trend slope from decomposable sums "
    "(n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²): regression analytics as ONE hash "
    "aggregation — no ML library, no iteration.  x is epoch seconds "
    "re-based and y quantized so all sums are exact integers, and the "
    "slope is emitted 1e-6-quantized via integer division (fully exact).",
)
def q_regression_slope_per_user(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    x = (F.unix_timestamp("ts") - F.lit(1700000000)).cast("long")
    y = F.floor(F.col("value") * 1000000).cast("long")
    d38 = "decimal(38,0)"
    df = ev.select("user_id", x.alias("x"), y.alias("y"))
    agg = df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).alias("sxy"),
    )
    den = agg.n * agg.sxx - agg.sx * agg.sx
    num = agg.n * agg.sxy - agg.sx * agg.sy
    # All arithmetic stays in exact decimal integers; the slope is
    # emitted quantized to 1e-6 via integer division, so the only
    # float-free path is shared bit-for-bit with the oracle (a raw
    # decimal->double division differs in the last ulp across engines).
    slope_e6 = F.expr(
        "CAST((CAST(n AS DECIMAL(38,0)) * sxy - sx * sy) * 1000000 "
        "div (CAST(n AS DECIMAL(38,0)) * sxx - sx * sx) AS BIGINT)"
    )
    return agg.select(
        "user_id", "n", F.when(den != 0, slope_e6).alias("slope_e6")
    )


# ===========================================================================
# TPC-H classic subquery shapes (EXISTS semi-join, IN + HAVING)
# ===========================================================================


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


def _edit_pairs_oracle() -> str:
    from ..functions import sql_codepoint_relabel, sql_portable_lower

    norm = sql_portable_lower(
        r"regexp_replace(text, '[^\p{L}\p{Nd} ]', '', 'g')"
    )
    return (
        f"""
    WITH t0 AS (SELECT doc_id, source,
                      substr({norm}, 1, 40) AS head
               FROM documents)"""
        + sql_codepoint_relabel("t0", "t", carry=("source",))
        + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           levenshtein(a.head, b.head)::BIGINT AS edit_dist
    FROM t a JOIN t b
      ON a.source = b.source AND a.doc_id < b.doc_id AND b.doc_id - a.doc_id <= 20
    """
    )


@register(
    "doc_edit_distance_pairs",
    _edit_pairs_oracle(),
    survey_ids=("J1",),
    doc="Edit-distance near-dup verification: Levenshtein over bounded "
    "40-char case-folded prefixes within bounded candidate pairs (the "
    "O(n*m) DP must never see full documents or unbounded pairs at "
    "scale — prefix-block then verify, same shape as the Jaccard "
    "verifier).  UNICODE-CORRECT: the prefix keeps unicode letters/"
    "digits, Spark's codepoint levenshtein is the semantics, and the "
    "oracle relabels non-ASCII codepoints to free single-byte chars "
    "(edit distance is relabel-invariant) so DuckDB's byte distance "
    "matches exactly — CJK/diacritic text no longer needs stripping.  "
    "(BMP codepoints: Spark substring counts UTF-16 units, so "
    "astral-plane chars would offset the 40-char window.)",
)
def q_doc_edit_distance_pairs(spark, sf_dir):
    from ..functions import portable_lower

    d = load(spark, sf_dir, "documents")
    # portable_lower: fold İ/Σ before lower so the head matches the
    # oracle's utf8proc simple case mapping byte-for-byte.
    t = d.select(
        "doc_id",
        "source",
        F.substring(
            portable_lower(F.regexp_replace("text", r"[^\p{L}\p{Nd} ]", "")),
            1, 40,
        ).alias("head"),
    )
    a, b = t.alias("a"), t.alias("b")
    dist = F.levenshtein(F.col("a.head"), F.col("b.head"))
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.doc_id") - F.col("a.doc_id") <= 20),
        )
        .withColumn("edit_dist", dist.cast("long"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            "edit_dist",
        )
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


@register(
    "purchase_window_clicks",
    """
    SELECT p.event_id AS purchase_id, count(*)::BIGINT AS n_clicks
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL 2 HOUR
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    GROUP BY 1
    """,
    survey_ids=("J2", "T4"),
    doc="Interval (range) join without a theta-join: each purchase "
    "opens a 2-hour window; clicks by the same user inside the window "
    "are counted.  The window is exploded into its <=3 covering hour "
    "buckets and the join runs on (user_id, hour_bucket) equi-keys — "
    "a click's own bucket is unique, so each qualifying (purchase, "
    "click) pair appears exactly once and needs no dedup.  At 100 TB "
    "this is the difference between a keyed shuffle join and an "
    "unbounded per-user cross product; bucket count scales with window "
    "width, not data size.",
)
def q_purchase_window_clicks(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    two_h = F.expr("INTERVAL 2 HOURS")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
        (F.col("ts") + two_h).alias("p_end"),
    )
    pb = p.withColumn(
        "hb",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col("p_ts")),
                F.date_trunc("hour", F.col("p_end")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ),
    )
    cb = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.date_trunc("hour", F.col("ts")).alias("hb"),
    )
    return (
        pb.join(cb, (F.col("user_id") == F.col("c_user")) & (pb.hb == cb.hb))
        .filter((F.col("c_ts") >= F.col("p_ts")) & (F.col("c_ts") < F.col("p_end")))
        .groupBy("purchase_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
