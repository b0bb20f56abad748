"""Distributed BPE tokenizer-vocabulary training.

The canonical LLM-pipeline primitive the catalog's pre-tokenization /
chunking / packing operators feed into: LEARN the merge table.  Each
round of classic byte-pair encoding (Sennrich et al. 2016, public
algorithm) is expressed as DataFrame jobs:

1. adjacent-pair counts weighted by word frequency — one keyed
   aggregation (map-side combine) over the symbol state;
2. deterministic arg-max — ``ORDER BY cnt DESC, a, b LIMIT 1``, an
   O(1)-row driver action (the pagerank / ivf_train fixed-iteration
   pattern: integer counts, total tie-break order, no RNG);
3. greedy left-to-right merge application — windowed over each word:
   consecutive overlapping matches alternate (keep offsets 0, 2, 4 …
   of each run), which is exactly what a sequential left-to-right scan
   produces, computed as a parallel window instead of a Python loop.

Scale posture: the corpus is touched ONCE (tokenize + groupBy word);
everything after is VOCABULARY-bounded — the symbol state is
|vocab| x avg_word_len rows regardless of corpus size, so 100 TB of
documents first collapses through the word-frequency aggregation.
Per-round shuffle budget: one aggregation on the pair key + one
hash-exchange on the word key that every window in the round reuses
(all windows are partitioned by ``wid``; none are unpartitioned).
``localCheckpoint`` truncates lineage between rounds so round r does
not recompute rounds 1..r-1 (same reasoning as similarity.ivf_train).

Semantics notes (documented, deterministic, mirrored by the SQL
oracle in plans/lm_tokenizer.py):

- pair counts are NAIVE over adjacent positions — "aaa" counts (a,a)
  twice — matching the original BPE formulation's counting step;
- merge application is greedy left-to-right — "aaa" becomes
  ("aa", "a") — via the run-alternation window;
- ties on count break by (left, right) lexicographic order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

MERGE_SCHEMA = StructType(
    [
        StructField("round", LongType()),
        StructField("left_sym", StringType()),
        StructField("right_sym", StringType()),
        StructField("merged", StringType()),
        StructField("cnt", LongType()),
    ]
)


def bpe_train(spark: SparkSession, words: DataFrame, rounds: int) -> DataFrame:
    """Learn ``rounds`` BPE merges from a (word, freq) frame.

    Returns the merge table (round, left_sym, right_sym, merged, cnt)
    — O(rounds) rows, built driver-side from one 1-row action per
    round (the only driver data in the loop).  Stops early if the
    symbol state runs out of adjacent pairs (single-symbol words
    only); callers that need a fixed row count should size ``rounds``
    to the corpus.
    """
    merges_df, _ = bpe_train_full(spark, words, rounds)
    return merges_df


def bpe_train_full(
    spark: SparkSession, words: DataFrame, rounds: int
) -> tuple[DataFrame, DataFrame]:
    """:func:`bpe_train` plus the final symbol state — (merge table,
    state (wid, freq, pos, sym)).  The state after the last merge IS
    the learned tokenizer applied to the vocabulary: segmentation
    comes for free with training (no second apply pass)."""
    w_ord = Window.partitionBy("wid").orderBy("pos")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)

    state = words.select(
        F.col("word").alias("wid"),
        F.col("freq").cast("long").alias("freq"),
        F.posexplode(F.split(F.col("word"), "")).alias("pos", "sym"),
    ).localCheckpoint(eager=True)

    merges: list[tuple[int, str, str, str, int]] = []
    for r in range(1, rounds + 1):
        pairs = state.withColumn("nxt", F.lead("sym").over(w_ord))
        top = (
            pairs.filter(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "sym", "nxt")
            .first()
        )
        if top is None:
            break
        a, b, cnt = top["sym"], top["nxt"], int(top["cnt"])
        merges.append((r, a, b, a + b, cnt))

        hit = ((F.col("sym") == F.lit(a)) & (F.col("nxt") == F.lit(b))).cast("int")
        g = pairs.withColumn("hit", hit).withColumn(
            "grp", F.col("pos") - F.sum("hit").over(w_cum)
        )
        # Within each run of CONSECUTIVE matches, greedy left-to-right
        # keeps offsets 0, 2, 4, ... (a kept merge consumes the next
        # position, so the immediately-following overlap is skipped
        # and the one after that fires again).
        k = g.withColumn(
            "keep",
            (F.col("hit") == 1)
            & (
                (
                    F.row_number().over(
                        Window.partitionBy("wid", "grp", "hit").orderBy("pos")
                    )
                    - 1
                )
                % 2
                == 0
            ),
        )
        d = k.withColumn("prev_keep", F.lag("keep").over(w_ord))
        state = (
            d.filter(~F.coalesce(F.col("prev_keep"), F.lit(False)))
            .select(
                "wid",
                "freq",
                (F.row_number().over(w_ord) - 1).alias("pos"),
                F.when(F.col("keep"), F.concat(F.col("sym"), F.lit(b)))
                .otherwise(F.col("sym"))
                .alias("sym"),
            )
            .localCheckpoint(eager=True)
        )

    return spark.createDataFrame(merges, MERGE_SCHEMA), state


def segment_words(state: DataFrame) -> DataFrame:
    """Collapse a symbol state into per-word segmentations: (word,
    freq, n_tokens, segmented) — the learned-tokenizer view of the
    vocabulary.  One keyed aggregation, bounded per word by its own
    symbol count (the span_dedup sorted-collect pattern)."""
    return state.groupBy(F.col("wid").alias("word")).agg(
        F.max("freq").alias("freq"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sym"))),
                lambda x: x["sym"],
            ),
            " ",
        ).alias("segmented"),
    )


def sql_bpe_chain(words_cte: str, rounds: int) -> str:
    """DuckDB twin: replay the SAME training as an unrolled CTE chain.

    ``words_cte`` must be the body of a CTE named ``w0`` producing
    (word, freq).  Each round re-derives the top pair and applies the
    identical run-alternation greedy merge — windows, tie-breaks, and
    integer counts all mirror :func:`bpe_train` step for step, so the
    learned merge table is value-hash comparable.
    """
    body, _, outs = _sql_bpe_body(words_cte, rounds)
    return body + " " + " UNION ALL ".join(outs)


def sql_bpe_segments(words_cte: str, rounds: int) -> str:
    """DuckDB twin of train-then-:func:`segment_words`: the chain's
    FINAL state, grouped back into per-word segmentations."""
    body, final, _ = _sql_bpe_body(words_cte, rounds)
    return (
        body
        + f""" SELECT wid AS word, max(freq)::BIGINT AS freq,
           count(*)::BIGINT AS n_tokens,
           string_agg(sym, ' ' ORDER BY pos) AS segmented
    FROM {final} GROUP BY wid"""
    )


def sql_bpe_segments_cte(words_cte: str, rounds: int) -> str:
    """Like :func:`sql_bpe_segments`, but rendered as an OPEN CTE chain
    (``WITH w0 AS (...), ..., seg AS (<segmentations>)``) so a
    caller can append further CTEs and its own final SELECT — the
    composition surface corpus-level consumers (bpe_corpus_tokens)
    build on without string surgery on a rendered query (the
    sql_lm_chain lesson, ADVICE r7)."""
    body, final, _ = _sql_bpe_body(words_cte, rounds)
    return (
        body
        + f""", seg AS (
        SELECT wid AS word, max(freq)::BIGINT AS freq,
               count(*)::BIGINT AS n_tokens,
               string_agg(sym, ' ' ORDER BY pos) AS segmented
        FROM {final} GROUP BY wid
    )"""
    )


def _sql_bpe_body(words_cte: str, rounds: int) -> tuple[str, str, list[str]]:
    parts = [
        f"WITH w0 AS ({words_cte}),",
        """s1 AS (
        SELECT word AS wid, freq::BIGINT AS freq, p - 1 AS pos,
               substr(word, p, 1) AS sym
        FROM w0, unnest(range(1, len(word) + 1)) AS u(p)
    )""",
    ]
    outs = []
    for r in range(1, rounds + 1):
        parts.append(
            f""", p{r} AS (
        SELECT wid, freq, pos, sym,
               lead(sym) OVER (PARTITION BY wid ORDER BY pos) AS nxt
        FROM s{r}
    ), t{r} AS (
        SELECT sym AS a, nxt AS b, sum(freq)::BIGINT AS cnt
        FROM p{r} WHERE nxt IS NOT NULL
        GROUP BY 1, 2 ORDER BY cnt DESC, a, b LIMIT 1
    ), g{r} AS (
        SELECT p.wid, p.freq, p.pos, p.sym, t.a, t.b, t.cnt,
               CASE WHEN p.sym = t.a AND p.nxt = t.b THEN 1 ELSE 0 END AS hit,
               p.pos - sum(CASE WHEN p.sym = t.a AND p.nxt = t.b THEN 1 ELSE 0 END)
                   OVER (PARTITION BY p.wid ORDER BY p.pos
                         ROWS UNBOUNDED PRECEDING) AS grp
        FROM p{r} p CROSS JOIN t{r} t
    ), k{r} AS (
        SELECT *, CASE WHEN hit = 1 AND
                (row_number() OVER (PARTITION BY wid, grp, hit ORDER BY pos) - 1)
                    % 2 = 0
            THEN 1 ELSE 0 END AS keep
        FROM g{r}
    ), d{r} AS (
        SELECT wid, freq, pos,
               CASE WHEN keep = 1 THEN sym || b ELSE sym END AS sym, keep,
               lag(keep) OVER (PARTITION BY wid ORDER BY pos) AS prev_keep
        FROM k{r}
    ), s{r + 1} AS (
        SELECT wid, freq,
               row_number() OVER (PARTITION BY wid ORDER BY pos) - 1 AS pos,
               sym
        FROM d{r} WHERE coalesce(prev_keep, 0) = 0
    )"""
        )
        outs.append(
            f"SELECT {r}::BIGINT AS round, a AS left_sym, b AS right_sym, "
            f"a || b AS merged, cnt FROM t{r}"
        )
    return "".join(parts), f"s{rounds + 1}", outs
