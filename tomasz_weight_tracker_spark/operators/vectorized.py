"""Python execution surfaces: Arrow grouped-map (applyInPandas),
Arrow grouped-agg (pandas_udf GROUPED_AGG), and a row-based Python
UDTF — the three UDF shapes the engine supports beyond mapInPandas
(pipelines/jobsearch.py F4) and the multimodal decoders.

Engine guidance (SURVEY §2.10): Python is the SLOW path — every
operator here has a native-expression twin that should win in
production, and the docstrings say so.  These exist because a complete
engine must still run user Python correctly, at Arrow batch speed
where the API allows it, and with the same exactness discipline as the
native operators: all arithmetic below is INTEGER until one final
IEEE-exact double op, so even Python-computed results hash-match the
DuckDB oracles.

Reference parallel: the reference's own Python functions (F1 weight
parse, F4 MHTML extract) are per-row Python over blobs; these are
their engine-grade generalizations.
"""

from __future__ import annotations

import math
import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QUANTIZE = 100  # event values are floor-quantized to 1/QUANTIZE units

# --- grouped-map: per-user z-scores (applyInPandas) ------------------------

_Z_SCHEMA = "user_id long, event_id long, zscore double"


def _zscore_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    # Integer moment sums (python ints: arbitrary precision, so the
    # intermediate n·q products cannot overflow at any scale), then
    # one float division per row — bit-identical to the SQL twin
    # (n*q - sq) / sqrt(n*sqq - sq^2).
    q = [int(v) for v in pdf["q"]]
    n, sq, sqq = len(q), sum(q), sum(v * v for v in q)
    den = math.sqrt(float(n * sqq - sq * sq))
    # Both SQL engines yield NULL (not IEEE inf/nan) for x/0.0 — a
    # constant group must produce None, not raise like python floats.
    z = [float(n * v - sq) / den if den != 0.0 else None for v in q]
    return pd.DataFrame(
        {"user_id": pdf["user_id"], "event_id": pdf["event_id"], "zscore": z}
    )


def zscore_grouped_map(df: DataFrame) -> DataFrame:
    """Per-user z-score of quantized value via Arrow grouped-map.

    One shuffle (groupBy user_id), then each group crosses the Arrow
    boundary once as a columnar batch.  Native twin: the same two
    moment aggregates + a join, entirely JVM-side — prefer it unless
    the per-group logic genuinely needs Python.
    """
    base = df.select(
        "user_id", "event_id", F.floor(F.col("value") * QUANTIZE).cast("long").alias("q")
    )
    return base.groupBy("user_id").applyInPandas(_zscore_pdf, _Z_SCHEMA)


def sql_zscore() -> str:
    return f"""
    WITH q AS (
        SELECT user_id, event_id,
               CAST(floor(value * {float(QUANTIZE)!r}) AS BIGINT) AS q
        FROM events
    ), s AS (
        SELECT user_id, count(*)::HUGEINT AS n, sum(q)::HUGEINT AS sq,
               sum(q*q)::HUGEINT AS sqq
        FROM q GROUP BY user_id
    )
    SELECT q.user_id, q.event_id,
           (s.n * q.q - s.sq)::DOUBLE
             / sqrt((s.n * s.sqq - s.sq * s.sq)::DOUBLE) AS zscore
    FROM q JOIN s ON q.user_id = s.user_id
    """


# --- grouped-agg: outlier counts (pandas_udf GROUPED_AGG) ------------------


def outlier_count_series(q_series: pd.Series) -> int:
    """|z| > 2 outlier count decided in PURE integer arithmetic:
    (n·q - sq)² > 4·(n·sqq - sq²) — no float enters the decision, so
    the Python aggregate is exactly the SQL aggregate."""
    q = [int(v) for v in q_series]
    n, sq, sqq = len(q), sum(q), sum(v * v for v in q)
    bound = 4 * (n * sqq - sq * sq)
    return sum(1 for v in q if (n * v - sq) ** 2 > bound)


def outlier_counts_udaf(df: DataFrame) -> DataFrame:
    """Per-event-type outlier count via an Arrow GROUPED_AGG pandas
    UDF.  The whole group's column arrives as one pandas Series per
    aggregation state — partial aggregation is NOT available to Python
    UDAFs (the map-side combine native aggregates get), which is the
    scale cost of this shape and why the moment-sum native form is
    preferred."""
    count_outliers = F.pandas_udf(outlier_count_series, "long")
    base = df.select(
        "event_type", F.floor(F.col("value") * QUANTIZE).cast("long").alias("q")
    )
    return base.groupBy("event_type").agg(
        count_outliers("q").alias("n_outliers")
    )


def sql_outlier_counts() -> str:
    return f"""
    WITH q AS (
        SELECT event_type,
               CAST(floor(value * {float(QUANTIZE)!r}) AS BIGINT) AS q
        FROM events
    ), s AS (
        SELECT event_type, count(*)::HUGEINT AS n, sum(q)::HUGEINT AS sq,
               sum(q*q)::HUGEINT AS sqq
        FROM q GROUP BY event_type
    )
    SELECT q.event_type,
           sum(CASE WHEN (s.n * q.q - s.sq) * (s.n * q.q - s.sq)
                         > 4 * (s.n * s.sqq - s.sq * s.sq)
                    THEN 1 ELSE 0 END)::BIGINT AS n_outliers
    FROM q JOIN s ON q.event_type = s.event_type
    GROUP BY q.event_type
    """


# --- UDTF: sentence splitting ----------------------------------------------

SENT_PATTERN = r"[.!?] +"


def make_sentence_udtf():
    """Spark 4 Python UDTF splitting text into (sent_idx, sentence)
    rows — the scalar→table shape of the reference's F1 parse
    (utils/20251223-weight-for-streamlit.py:38-74), as a first-class
    table function.  Row-at-a-time Python: API completeness, not the
    fast path (native twin: split + posexplode, all codegen)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx bigint, sentence string")
    class SentenceSplit:
        def eval(self, text: str):
            if text is None:
                return
            for i, s in enumerate(re.split(SENT_PATTERN, text), start=1):
                yield i, s

    return SentenceSplit


def sql_sentences() -> str:
    # 1-based (x, i) lambda index mirrors enumerate(start=1).
    return f"""
    SELECT d.doc_id, u.s['i']::BIGINT AS sent_idx, u.s['sent'] AS sentence
    FROM (
        SELECT doc_id,
               string_split_regex(text, '{SENT_PATTERN}') AS sents
        FROM documents
    ) d, unnest(list_transform(d.sents, (x, i) -> {{'i': i, 'sent': x}})) AS u(s)
    """
