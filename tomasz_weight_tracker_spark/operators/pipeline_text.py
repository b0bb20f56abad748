"""Corpus-curation operators for training-data pipelines.

Extensions beyond the reference surface (SURVEY §8.2): the signals a
large-scale pretraining-data pipeline computes over a document corpus
before training — repetition scoring, boilerplate n-gram detection,
benchmark-contamination screening, PII redaction, and per-document
salient-term extraction.  The reference's closest analogue is its
normalization/dedup pass over scraped job postings
(utils/loose_thoughts.py:227-238); these generalize that pass to the
corpus scale the engine targets.

Scale posture (the design constraint for every function here):

- repetition + PII metrics are PER-ROW array/regex expressions — no
  shuffle at all, embarrassingly parallel across executors, and
  whole-stage-codegen'd (no Python in the hot path);
- boilerplate and salient-term extraction explode to (doc, ngram)
  pairs and aggregate — the explode output is narrow (two columns),
  partial aggregation runs map-side before the single shuffle, and
  the final top-k is a TakeOrderedAndProject, not a full sort;
- contamination screening joins each document's shingle set against a
  small benchmark shingle set: the benchmark side is broadcast, so
  the corpus side never shuffles.

Every metric is integer arithmetic followed by one IEEE double
division, so results are bit-identical to the DuckDB oracle twins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import tokens

# The curation gates' thresholds: curate_corpus's defaults (and the
# CLI's) and the oracle's SQL twin.
QUALITY_MIN = 0.35
TOP_TOKEN_MAX = 0.2

# --- repetition signals (per-row, no shuffle) ------------------------------


def bigram_array(tok: Column) -> Column:
    """Adjacent-token bigrams of a token array, as 'a b' strings."""
    n = F.size(tok)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(tok, 1, n - 1),
            F.slice(tok, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def trigram_array(tok: Column) -> Column:
    """Adjacent-token trigrams of a token array, as 'a b c' strings."""
    n = F.size(tok)
    return F.when(
        n >= 3,
        F.zip_with(
            F.zip_with(
                F.slice(tok, 1, n - 2),
                F.slice(tok, 2, n - 2),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
            F.slice(tok, 3, n - 2),
            lambda ab, c: F.concat(ab, F.lit(" "), c),
        ),
    ).otherwise(F.array().cast("array<string>"))


def top_token_count(tok: Column) -> Column:
    """Occurrence count of the most frequent token (mode count).

    sort + longest-run fold: O(n log n) per row (was O(distinct·n)
    as a distinct×filter scan — ~3× slower on the soak corpus), fully
    JVM-side and shuffle-free; the per-row cost is what executors
    divide at scale, which beats an explode+groupBy round trip for a
    per-document metric.  Returns 0 for an empty array (the previous
    form returned NULL; callers guard on n > 0 either way)."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc: Column, x: Column) -> Column:
        run2 = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            x.alias("prev"),
            run2.alias("run"),
            F.greatest(acc["best"], run2).alias("best"),
        )

    return F.aggregate(F.array_sort(tok), init, step, lambda acc: acc["best"])


def repetition_metrics(df: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per ``text`` document:

    - ``top_token_frac``: count of the single most frequent token /
      total tokens (high -> degenerate repetition);
    - ``dup_bigram_frac``: 1 - distinct bigrams / total bigrams
      (high -> copy-paste loops).

    Both are per-row expressions; the plan is a single narrow
    projection over the scan."""
    d = df.select("doc_id", tokens(F.col("text")).alias("__tk"))
    d = d.select("doc_id", "__tk", bigram_array(F.col("__tk")).alias("__bg"))
    n = F.size("__tk").cast("long")
    nb = F.size("__bg").cast("long")
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        F.when(n > 0, top_token_count(F.col("__tk")).cast("double") / n.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("top_token_frac"),
        F.when(
            nb > 0,
            1.0 - F.size(F.array_distinct("__bg")).cast("double") / nb.cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_bigram_frac"),
    )


def sql_bigrams(tokens_expr: str) -> str:
    """DuckDB twin of :func:`bigram_array` (1-based list indexing)."""
    return (
        f"CASE WHEN len({tokens_expr}) >= 2 THEN "
        f"list_transform(range(1, len({tokens_expr})), "
        f"i -> ({tokens_expr})[i] || ' ' || ({tokens_expr})[i+1]) "
        f"ELSE []::VARCHAR[] END"
    )


def sql_trigrams(tokens_expr: str) -> str:
    return (
        f"CASE WHEN len({tokens_expr}) >= 3 THEN "
        f"list_transform(range(1, len({tokens_expr}) - 1), "
        f"i -> ({tokens_expr})[i] || ' ' || ({tokens_expr})[i+1] || ' ' || ({tokens_expr})[i+2]) "
        f"ELSE []::VARCHAR[] END"
    )


def sql_top_token_count(tokens_expr: str) -> str:
    return (
        f"list_max(list_transform(list_distinct({tokens_expr}), "
        f"d -> len(list_filter({tokens_expr}, x -> x = d))))"
    )


# --- boilerplate n-grams (explode -> partial agg -> top-k) -----------------


def boilerplate_ngrams(df: DataFrame, top: int = 20) -> DataFrame:
    """Corpus-wide boilerplate detector: ``text`` token trigrams ranked
    by the number of DISTINCT documents containing them.

    Plan shape: per-row trigram set (array_distinct BEFORE explode, so
    a doc contributes each trigram once and the exploded relation is a
    set, not a bag) -> explode to (ngram) -> hash-agg count with map-
    side partial -> TakeOrderedAndProject for the top-k.  One shuffle
    total; the explode never leaves the executor that scanned the row."""
    d = df.select(tokens(F.col("text")).alias("__tk"))
    d = d.select(F.explode(F.array_distinct(trigram_array(F.col("__tk")))).alias("ngram"))
    return (
        d.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), F.col("ngram"))
        .limit(top)
    )


# --- benchmark-contamination screen (broadcast semi-join) ------------------

BENCH_MOD = 53  # doc_id % BENCH_MOD == 0 is the pseudo-benchmark split


def contamination_overlap(df: DataFrame) -> DataFrame:
    """Screen every ``text`` document against a benchmark set for n-gram
    contamination.

    The benchmark here is the deterministic pseudo-holdout
    ``doc_id % BENCH_MOD == 0`` (in production it would be a separate
    small table — the plan is identical).  For each non-benchmark
    document: how many of its distinct trigrams appear anywhere in the
    benchmark, and what fraction of its trigrams that is.

    Plan shape: the benchmark trigram set is small -> broadcast; the
    corpus side explode_outer's its per-doc trigram set carrying the
    per-doc set SIZE, left-joins the broadcast set, and re-aggregates
    per doc_id counting the matches — the corpus is tokenized ONCE and
    never shuffles on data volume, only the per-doc counts do.
    (A previous shape cached the trigram base and re-joined a separate
    corpus-sizes branch; the single explode_outer pass computes the
    identical result with no corpus-sized cache — which at 100 TB
    would spill — and one less join, measured ×1.4 at sf0.1.)
    explode_outer keeps zero-trigram documents as a null-ngram row, so
    every corpus doc survives to the aggregate (null never equals a
    benchmark ngram, so such docs count 0 hits, exactly as the old
    left join coalesced them)."""
    tg = F.array_distinct(trigram_array(tokens(F.col("text"))))
    bench = (
        df.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.explode(tg).alias("ngram"))
        .distinct()
    )
    # Two-step select so __tg is a materialized column reference — the
    # size() projection and the Generate then both read it instead of
    # re-running tokenize+trigrams per row.
    exploded = (
        df.filter(F.col("doc_id") % BENCH_MOD != 0)
        .select("doc_id", tg.alias("__tg"))
        .select(
            "doc_id",
            F.size("__tg").cast("long").alias("n_ngrams"),
            F.explode_outer("__tg").alias("ngram"),
        )
    )
    hit = F.broadcast(bench.withColumn("__hit", F.lit(1)))
    return (
        exploded.join(hit, "ngram", "left")
        .groupBy("doc_id")
        .agg(
            F.max("n_ngrams").alias("n_ngrams"),
            F.count("__hit").alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_contaminated",
            F.when(
                F.col("n_ngrams") > 0,
                F.col("n_contaminated").cast("double")
                / F.col("n_ngrams").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("contaminated_frac"),
        )
    )


# --- PII redaction (per-row regex, no shuffle) -----------------------------

# Patterns restricted to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): character classes, bounded repetition, no
# lookaround, no backreferences.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9()\- ]{7,}[0-9]",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}
_REDACTED = {"email": "<EMAIL>", "phone": "<PHONE>", "ipv4": "<IP>"}


def redact_pii(df: DataFrame) -> DataFrame:
    """Replace emails / phone numbers / IPv4 addresses in ``text`` with
    typed placeholder tokens and count each category.

    Per-row ``regexp_replace`` / ``regexp_extract_all`` — shuffle-free,
    codegen'd, and linear in bytes scanned: the shape that holds at
    100 TB."""
    t = F.col("text")
    out = df
    clean = t
    for kind in ("email", "phone", "ipv4"):
        pat = PII_PATTERNS[kind]
        out = out.withColumn(
            f"n_{kind}", F.size(F.regexp_extract_all(t, F.lit(pat), 0)).cast("long")
        )
        clean = F.regexp_replace(clean, pat, _REDACTED[kind])
    return out.withColumn("clean_text", clean)


def sql_redact_pii(expr: str) -> dict[str, str]:
    """DuckDB twins: per-kind count expressions + the chained
    replacement expression (global flag)."""
    counts = {
        kind: f"len(regexp_extract_all({expr}, '{pat}'))::BIGINT"
        for kind, pat in PII_PATTERNS.items()
    }
    clean = expr
    for kind in ("email", "phone", "ipv4"):
        clean = f"regexp_replace({clean}, '{PII_PATTERNS[kind]}', '{_REDACTED[kind]}', 'g')"
    return {**counts, "clean": clean}


# --- end-to-end corpus curation --------------------------------------------


def curate_corpus(
    df: DataFrame,
    quality_min: float = QUALITY_MIN,
    top_token_max: float = TOP_TOKEN_MAX,
) -> DataFrame:
    """The full pretraining-data curation pass, composed from this
    module's operators in the order a production pipeline runs them:

    1. quality gate (stopword/length/punctuation composite >= min) —
       scan-side predicate, drops garbage before anything shuffles;
    2. exact dedup: md5 of whitespace-normalized lowercase text,
       keep the smallest doc_id per fingerprint;
    3. reorder-robust dedup: md5 of the SORTED token bag — catches
       shuffled/reflowed copies exact hashing misses;
    4. repetition gate (top-token fraction <= max) — degenerate
       generation filter;
    5. PII redaction -> ``clean_text``.

    Shuffle budget: two keyed min-aggregations (the dedups); every
    other stage is per-row.  On a clean corpus the dedup stages pass
    everything through; on a duplicated corpus they keep one canonical
    doc per content class (tested both ways)."""
    from .text_analysis import fingerprint, quality_score

    t = F.col("text")
    q = df.select(
        "doc_id", t, quality_score(t).alias("quality")
    ).filter(F.col("quality") >= F.lit(quality_min))

    f1 = q.withColumn("__fp", fingerprint(t))
    k1 = f1.groupBy("__fp").agg(F.min("doc_id").alias("doc_id"))
    d1 = f1.join(k1, ["__fp", "doc_id"]).drop("__fp")

    bag = F.md5(F.array_join(F.array_sort(tokens(F.lower(t))), " "))
    f2 = d1.withColumn("__bag", bag)
    k2 = f2.groupBy("__bag").agg(F.min("doc_id").alias("doc_id"))
    d2 = f2.join(k2, ["__bag", "doc_id"]).drop("__bag")

    d3 = d2.withColumn("__tk", tokens(t))
    n = F.size("__tk").cast("long")
    frac = F.when(
        n > 0, top_token_count(F.col("__tk")).cast("double") / n.cast("double")
    ).otherwise(F.lit(0.0))
    d3 = d3.withColumn("n_tokens", n).filter(frac <= F.lit(top_token_max))

    red = redact_pii(d3.select("doc_id", "quality", "n_tokens", "text"))
    return red.select("doc_id", "quality", "n_tokens", "clean_text")


def sql_curate_corpus() -> str:
    """DuckDB twin of :func:`curate_corpus` at its default thresholds
    over ``documents``, composed from the same SQL helper generators
    stage by stage."""
    from .text_analysis import sql_fingerprint, sql_quality_score, sql_tokens

    quality = sql_quality_score("text")
    fp = sql_fingerprint("text")
    bag = f"md5(array_to_string(list_sort({sql_tokens('lower(text)')}), ' '))"
    tok = sql_tokens("text")
    top = sql_top_token_count(tok)
    clean = sql_redact_pii("text")["clean"]
    return f"""
    WITH q AS (
        SELECT doc_id, text, {quality} AS quality FROM documents
        WHERE {quality} >= {QUALITY_MIN!r}
    ), f1 AS (
        SELECT doc_id, text, quality, {fp} AS fp FROM q
    ), k1 AS (
        SELECT fp, min(doc_id) AS doc_id FROM f1 GROUP BY fp
    ), d1 AS (
        SELECT f1.doc_id, f1.text, f1.quality
        FROM f1 JOIN k1 ON f1.fp = k1.fp AND f1.doc_id = k1.doc_id
    ), f2 AS (
        SELECT doc_id, text, quality, {bag} AS bag FROM d1
    ), k2 AS (
        SELECT bag, min(doc_id) AS doc_id FROM f2 GROUP BY bag
    ), d2 AS (
        SELECT f2.doc_id, f2.text, f2.quality
        FROM f2 JOIN k2 ON f2.bag = k2.bag AND f2.doc_id = k2.doc_id
    ), d3 AS (
        SELECT doc_id, text, quality, len({tok})::BIGINT AS n_tokens
        FROM d2
        WHERE CASE WHEN len({tok}) > 0
                   THEN {top}::DOUBLE / len({tok})::DOUBLE
                   ELSE 0.0 END <= {TOP_TOKEN_MAX!r}
    )
    SELECT doc_id, quality, n_tokens, {clean} AS clean_text FROM d3
    """


# --- salient terms (tf + rarity, integer-ranked) ---------------------------


def salient_terms(df: DataFrame) -> DataFrame:
    """Per-document top-3 salient ``text`` terms: rank by term frequency
    descending, then document frequency ascending (rarer wins), then
    term ascending — an integer-only TF-IDF surrogate with a total
    deterministic order (no float log in the ranking, so the result
    is hash-stable across engines).

    Plan shape: explode -> (doc, term) counts with map-side partial ->
    small (term, df) side derived FROM the tf frame (tf already has
    exactly one row per distinct (doc, term), so document frequency is
    a count over tf — no second explode/scan) and BROADCAST back ->
    per-doc row_number window.  Two shuffles (tf agg, window), both on
    doc-sized keys; the df join moves no corpus data.  tf feeds both
    the join's probe side and the df aggregate; Catalyst does not CSE
    shared subtrees, but the duplicated explode+aggregate subtrees end
    in IDENTICAL exchanges which AQE collapses at runtime to ONE
    ReusedExchange (shuffle files are disk-backed and read by both
    consumers — the scale-correct sharing; executed-plan assertion in
    tests/test_plans.py).  A storage-level cache here was a measured
    wash at sf0.1 (round-13 A/B: 1.20 s cached vs 1.16 s without,
    checksum-identical) while materializing a corpus-rows relation —
    removed per guide §5."""
    toks = df.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # The always-true tf > 0 guard references the count on the df
    # branch, so column pruning cannot strip it there — both branches'
    # explode+partial-agg subtrees stay canonically IDENTICAL and the
    # planner collapses them into the one ReusedExchange the docstring
    # describes.  Without it the df branch drops the count, the
    # exchanges differ, and the corpus tokenizes twice.
    docfreq = (
        tf.filter(F.col("tf") > 0).groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(F.broadcast(docfreq), "term")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", F.col("rank").cast("long").alias("rank"))
    )
