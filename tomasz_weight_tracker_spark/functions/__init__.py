"""Scalar expression helpers (SURVEY.md §2.8).

Everything here returns a Column built purely from JVM-side
``pyspark.sql.functions`` — no Python UDFs — so the expressions stay
inside whole-stage codegen and are portable to SQL for the DuckDB
oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Portable hashing.
#
# Spark's `hash`/`xxhash64` and DuckDB's `hash` are different algorithms,
# so every operator whose output must hash-match the oracle (minhash,
# simhash, fingerprints) uses an md5-derived 60-bit integer: both engines
# implement md5 identically, and 15 hex chars (60 bits) always fits a
# signed BIGINT.


def md5_long(col: Column | str) -> Column:
    """Deterministic 60-bit integer hash of a string column.

    Portable: DuckDB equivalent is ``('0x' || substr(md5(x),1,15))::BIGINT``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def md5_long_sql(expr: str) -> str:
    """DuckDB SQL rendering of :func:`md5_long` over ``expr``."""
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


# ---------------------------------------------------------------------------
# Tolerant equality (reference G5/G6).  The pandas and polars reference
# variants disagree (np.isclose relative+absolute at
# utils/20251223-csv-to-separate-sensors.py:118 vs absolute-only at
# utils/20251223-csv-to-separate-sensors-polars.py:129); per SURVEY §7.4
# we standardize on np.isclose semantics: both-null equal, one-null
# unequal, |a-b| <= ATOL + RTOL*|b|, with the reference's tolerances.

RTOL = 1e-5
ATOL = 1e-9


def values_close(a: Column, b: Column) -> Column:
    """np.isclose semantics as a native Column expression.

    Mirrors utils/20251223-csv-to-separate-sensors.py:108-121 behavior
    without a UDF.
    """
    both_null = a.isNull() & b.isNull()
    one_null = a.isNull() | b.isNull()
    close = F.abs(a - b) <= (F.lit(ATOL) + F.lit(RTOL) * F.abs(b))
    return F.when(both_null, F.lit(True)).when(one_null, F.lit(False)).otherwise(close)


def conflict(a: Column, b: Column) -> Column:
    """True where two merged values genuinely disagree (G5)."""
    return ~values_close(a, b)


def conflict_sql(a: str, b: str) -> str:
    """:func:`conflict` as SQL text, for two operands known NON-NULL
    (the null cases of np.isclose are the caller's guards)."""
    return f"NOT (abs({a} - {b}) <= {ATOL!r}D + {RTOL!r}D * abs({b}))"


# ---------------------------------------------------------------------------
# Unit stripping + tokenize (reference G1/G2,
# utils/20251223-weight-for-streamlit.py:60-68).


def strip_units(col: Column | str) -> Column:
    """Remove kg/%/kcal unit suffixes from a measurement string."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, "kg|%|kcal", "")


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of a trimmed string (empty input -> empty array)."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


# ---------------------------------------------------------------------------
# Best-effort numeric coercion (G9, pd.to_numeric(errors='coerce')).


def try_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast("double")


# ---------------------------------------------------------------------------
# Conflict-column name generator (G14,
# utils/20251223-csv-to-separate-sensors.py:88-105): `!A!`, `!B!`, ...
# `!Z!`, `!AA!`, ... — an infinite base-26 sequence.  Driver-side Python:
# the names feed the merge plan's schema, not row data.


def conflict_tag(i: int) -> str:
    """0 -> '!A!', 25 -> '!Z!', 26 -> '!AA!', ..."""
    letters = ""
    n = i
    while True:
        letters = chr(ord("A") + n % 26) + letters
        n = n // 26 - 1
        if n < 0:
            break
    return f"!{letters}!"


def sanitize_filename(name: str) -> str:
    """G13: strip characters illegal in filenames."""
    out = []
    for ch in name:
        out.append("_" if ch in '/\\:*?"<>|' else ch)
    return "".join(out)


# ---------------------------------------------------------------------------
# Engine-portable lowercase.
#
# Spark lower() applies Java/ICU FULL case mapping; DuckDB's applies
# utf8proc SIMPLE per-codepoint mapping.  The locale-independent
# lowercase divergence surface is exactly two codepoints (SpecialCasing
# .txt's unconditional + Final_Sigma rules; everything else lowercases
# identically):
#   U+0130 İ -> 'i'+U+0307 (full) vs 'i' (simple)
#   U+03A3 Σ -> ς when word-final (full, contextual) vs σ always (simple)
# Folding both to their SIMPLE targets before lower() makes the result
# byte-identical across engines (verified empirically: Spark 4.1 emits
# i+0x307 / final ς, DuckDB emits i / σ, both emit i / σ after the
# fold).  Use these wrappers wherever a lowercased value feeds a
# cross-engine hash/compare.

CASEFOLD_DIVERGENT_FROM = "İΣ"  # İ Σ
CASEFOLD_DIVERGENT_TO = "iσ"  # i σ


def portable_lower(col: Column | str) -> Column:
    """lower() that agrees with DuckDB's on every codepoint."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(
        F.translate(c, CASEFOLD_DIVERGENT_FROM, CASEFOLD_DIVERGENT_TO)
    )


def sql_portable_lower(expr: str) -> str:
    """DuckDB rendering of :func:`portable_lower` (the fold is a no-op
    for DuckDB's own simple mapping of İ/Σ, but keeping it in BOTH
    engines documents the contract and survives an engine swap)."""
    return (
        f"lower(translate({expr}, '{CASEFOLD_DIVERGENT_FROM}', "
        f"'{CASEFOLD_DIVERGENT_TO}'))"
    )


# ---------------------------------------------------------------------------
# Codepoint-consistent edit distance across engines.
#
# Spark's levenshtein counts CODEPOINTS; DuckDB 1.0's counts BYTES —
# identical only on single-byte text.  Edit distance is invariant
# under alphabet relabeling, so the oracle relabels every non-ASCII
# codepoint to a distinct free single-byte char before levenshtein:
# byte distance on the relabeled text == codepoint distance on the
# original.  The free alphabet below never collides with the output
# of the head normalizers (lowercased unicode letters/digits + space,
# whose ASCII subset is [a-z0-9 ]).  Bound: up to len(LEV_FREE_BYTES)
# distinct non-ASCII codepoints corpus-wide in the compared column —
# far above any fixture; the engine (Spark) side is exact regardless.

LEV_FREE_BYTES = "ABCDEFGHIJKLMNOPQRSTUVWXYZ!#$%&()*+,-./:;<=>?@[]^_{|}~"


def sql_codepoint_relabel(src: str, out: str, carry: tuple[str, ...] = ()) -> str:
    """CTE fragment: relabel ``{src}(doc_id, head, *carry)``'s head
    into ``{out}`` so DuckDB byte-levenshtein matches Spark codepoint
    semantics.  ASCII chars map to themselves (the dictionary is empty
    on an all-ASCII corpus — zero distortion); non-ASCII codepoints
    map 1:1 to LEV_FREE_BYTES slots in codepoint order."""
    carry_sql = "".join(f", {src}.{c}" for c in carry)
    return f""", __cps AS (
        SELECT DISTINCT u.c AS cp
        FROM {src}, unnest(string_split(head, '')) AS u(c)
        WHERE unicode(u.c) >= 128
    ), __dict AS (
        -- Fail LOUDLY past capacity: slot {len(LEV_FREE_BYTES) + 1}+
        -- would substr to '' and silently DELETE the codepoint from
        -- the relabeled head (wrong distances, no error).
        SELECT cp, CASE WHEN rn > {len(LEV_FREE_BYTES)}
                        THEN error('sql_codepoint_relabel: relabel alphabet exhausted (>{len(LEV_FREE_BYTES)} distinct non-ASCII codepoints)')
                        ELSE substr('{LEV_FREE_BYTES}', rn::INT, 1) END AS b
        FROM (SELECT cp, row_number() OVER (ORDER BY cp) AS rn FROM __cps)
    ), __chars AS (
        SELECT doc_id, u.i AS i, substr(head, u.i::INT, 1) AS c
        FROM {src}, unnest(range(1, length(head) + 1)) AS u(i)
    ), __rel AS (
        SELECT ch.doc_id,
               string_agg(CASE WHEN dd.b IS NOT NULL THEN dd.b ELSE ch.c END,
                          '' ORDER BY ch.i) AS rhead
        FROM __chars ch LEFT JOIN __dict dd ON ch.c = dd.cp
        GROUP BY ch.doc_id
    ), {out} AS (
        SELECT {src}.doc_id{carry_sql}, coalesce(r.rhead, '') AS head
        FROM {src} LEFT JOIN __rel r USING (doc_id)
    )"""
