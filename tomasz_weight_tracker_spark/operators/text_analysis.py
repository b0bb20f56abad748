"""Text-analysis operators for large-scale training-data pipelines.

Extensions beyond the reference's surface (sanctioned by the north
star): language ID, quality scoring, token counting, and document
fingerprinting over a ``documents(doc_id, text, lang, source,
n_chars)`` table.  Everything is a native Column expression — no
Python UDFs — so the hot path stays in whole-stage codegen and each
operator has an exact DuckDB-SQL oracle twin.

Scale posture: all operators are embarrassingly parallel per-document
(no shuffle at all until an aggregation is requested), so they stream
through a 100 TB corpus at scan speed with full column pruning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import tokens

# Marker stopwords per language for the n-gram/stopword heuristic.
# Deterministic and shared with the DuckDB oracle; precision on real
# text is secondary to having an exactly-specified operator.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "es": ("el", "los", "las", "una", "es", "y"),
    "fr": ("le", "les", "des", "et", "est", "dans"),
}
CJK_PATTERN = "[\\u4e00-\\u9fff]"

STOPWORDS = LANG_MARKERS["en"] + ("in", "it", "that", "for", "on", "with")

PUNCT_CLASS = "[.,!?;:]"


def token_count(text: Column) -> Column:
    """Whitespace token count (BPE-ish proxy), bigint."""
    return F.size(tokens(text)).cast("long")


def marker_hits(text: Column, markers: tuple[str, ...]) -> Column:
    """Number of tokens that are in the marker list (bigint)."""
    arr = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(tokens(F.lower(text)), lambda t: F.array_contains(arr, t))).cast("long")


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    stripped = F.length(F.regexp_replace(text, PUNCT_CLASS, ""))
    return F.when(n > 0, (n - stripped).cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(text: Column) -> Column:
    n = token_count(text)
    hits = marker_hits(text, STOPWORDS)
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite quality score in [0, 1]: rewards stopword presence and
    moderate token length, penalizes punctuation soup.  Deterministic
    double arithmetic (oracle-exact)."""
    return (
        F.lit(0.5) * F.least(stopword_ratio(text) * 4, F.lit(1.0))
        + F.lit(0.3) * F.least(token_count(text).cast("double") / F.lit(100.0), F.lit(1.0))
        + F.lit(0.2) * (F.lit(1.0) - F.least(punct_ratio(text) * 10, F.lit(1.0)))
    )


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized lowercase
    text.  Exact-dedup key."""
    normalized = F.regexp_replace(F.trim(F.lower(text)), "\\s+", " ")
    return F.md5(normalized)


# --- DuckDB oracle twins (SQL text generators) -----------------------------


def char_shingles(docs: DataFrame) -> tuple[DataFrame, Column]:
    """The distinct character 5-grams of each document's lower-cased,
    whitespace-collapsed text: ``docs`` projected to (doc_id, __t) and
    the shingle-array expression over ``__t`` (a text shorter than 5
    characters is its own single shingle).  Callers explode the
    expression in place: exploding a projected array column lets Spark
    infer a size filter below the projection, which inlines the text
    normalization into the per-shingle lambda (measured 8x slower at
    sf0.1)."""
    d = docs.select(
        "doc_id",
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ").alias("__t"),
    )
    t = F.col("__t")
    sh = F.when(
        F.length(t) >= 5,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(t) - 4), lambda i: t.substr(i, F.lit(5))
            )
        ),
    ).otherwise(F.array(t))
    return d, sh


def sql_tokens(expr: str) -> str:
    return (
        f"CASE WHEN trim({expr}) = '' THEN []::VARCHAR[] "
        f"ELSE string_split_regex(trim({expr}), '\\s+') END"
    )


def sql_token_count(expr: str) -> str:
    return f"len({sql_tokens(expr)})::BIGINT"


def sql_marker_hits(expr: str, markers: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter({sql_tokens(f'lower({expr})')}, t -> t IN ({lst})))::BIGINT"


def sql_predict_lang(expr: str) -> str:
    scores = {lang: sql_marker_hits(expr, m) for lang, m in LANG_MARKERS.items()}
    best = f"greatest({', '.join(scores.values())})"
    whens = "".join(
        f" WHEN {scores[lang]} = {best} THEN '{lang}'" for lang in ("en", "de", "es", "fr")
    )
    return (
        f"CASE WHEN regexp_matches({expr}, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 'zh' "
        f"WHEN {best} = 0 THEN 'und'{whens} END"
    )


def sql_punct_ratio(expr: str) -> str:
    return (
        f"CASE WHEN length({expr}) > 0 THEN "
        f"(length({expr}) - length(regexp_replace({expr}, '{PUNCT_CLASS}', '', 'g')))::DOUBLE "
        f"/ length({expr})::DOUBLE ELSE 0.0 END"
    )


def sql_stopword_ratio(expr: str) -> str:
    n = sql_token_count(expr)
    hits = sql_marker_hits(expr, STOPWORDS)
    return f"CASE WHEN {n} > 0 THEN {hits}::DOUBLE / {n}::DOUBLE ELSE 0.0 END"


def sql_mean_token_len(expr: str) -> str:
    toks = sql_tokens(expr)
    return (
        f"CASE WHEN len({toks}) > 0 THEN "
        f"list_sum(list_transform({toks}, t -> length(t)))::DOUBLE / len({toks})::DOUBLE "
        f"ELSE 0.0 END"
    )


def sql_quality_score(expr: str) -> str:
    return (
        f"0.5 * least({sql_stopword_ratio(expr)} * 4, 1.0) "
        f"+ 0.3 * least({sql_token_count(expr)}::DOUBLE / 100.0, 1.0) "
        f"+ 0.2 * (1.0 - least({sql_punct_ratio(expr)} * 10, 1.0))"
    )


def sql_fingerprint(expr: str) -> str:
    return f"md5(regexp_replace(trim(lower({expr})), '\\s+', ' ', 'g'))"
