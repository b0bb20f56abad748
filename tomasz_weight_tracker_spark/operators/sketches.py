"""Distributed sketch operators: HyperLogLog distinct counting and
deterministic stratified sampling.

Extension surface beyond the reference (SURVEY §8): at 100 TB an exact
COUNT(DISTINCT) is a full shuffle of every distinct value; the sketch
path aggregates 256 small registers per group instead — partial-
aggregatable (map-side combine works: max per register commutes),
mergeable across partitions/streams, and constant-size state per
group.  Spark ships approx_count_distinct (HLL++), but its estimate is
not reproducible outside the JVM; this implementation is defined
entirely in portable integer/double arithmetic (md5 → 60-bit hash,
binary-string leading-zero count, power-of-two register sums) so the
DuckDB oracle replays it BIT-IDENTICALLY — the engine's cross-engine
verification discipline extended to approximate operators.

Float discipline: every register term is an exact power of two ≤ 2^30
and register sums stay < 2^39 — integer-exact in any summation order —
so the only runtime float ops are the final division (IEEE-identical
everywhere) and Flajolet et al.'s small-range linear-counting branch
m·ln(m/V).  ln() itself is NOT bit-portable (Java Math.log and
DuckDB's libm ln disagree in the last ulp on 18 of the 255 possible
inputs — measured), but its input domain here is FINITE: V, the
empty-register count, is an integer in [1, 255].  So the 255 possible
linear-counting values are precomputed once as double literals and
embedded in BOTH engines as a lookup table — the correction becomes
an integer-indexed load, bit-identical by construction, and
tests/test_scale_ops.py re-derives the table to pin it.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import md5_long

# Register-count exponent: m = 2^P registers per group (standard error
# ~1.04/sqrt(m) ≈ 6.5%).  CAP bounds the power-of-two register terms
# so their sum is integer-exact in 64-bit and double (< 2^39).
P = 8
M = 1 << P
REST_BITS = 60 - P  # md5_long yields 60 bits; P go to the bucket index
CAP = 30

# Linear-counting lookup: LC_TABLE[V-1] = m·ln(m/V) for V empty
# registers.  Precomputed doubles shared verbatim by both engines.
LC_TABLE: list[float] = [float(M) * math.log(float(M) / v) for v in range(1, M)]
# Small-range threshold: below 2.5·m the raw estimator's bias exceeds
# the sketch's standard error, so linear counting wins (HLL paper §4).
SMALL_RANGE = 2.5 * M


def _hash(value: Column) -> Column:
    """60-bit salted hash of the value's string form."""
    return md5_long(F.concat(F.lit("hll:"), value.cast("string")))


def _sql_hash(expr: str) -> str:
    return f"('0x' || substr(md5('hll:' || CAST({expr} AS VARCHAR)), 1, 15))::BIGINT"


def _sci(x: float) -> str:
    """Render a double so DuckDB parses it as DOUBLE, not DECIMAL."""
    s = repr(x)
    return s if "e" in s or "E" in s else s + "e0"


def register_cols(value: Column) -> tuple[Column, Column]:
    """(bucket, rho) register coordinates for one value — the per-row
    map side of the sketch.  Pure codegen expressions."""
    h = _hash(value)
    bucket = h.bitwiseAND(F.lit(M - 1))
    rest = F.shiftright(h, P)
    first_one = F.instr(F.lpad(F.bin(rest), REST_BITS, "0"), "1")
    rho = F.when(first_one == 0, F.lit(REST_BITS + 1)).otherwise(first_one)
    return bucket, rho


def register_term(mj: Column) -> Column:
    """2^(CAP-mj) as an exact integer (0 when mj > CAP or mj NULL)."""
    return F.when(
        mj <= CAP,
        F.pow(F.lit(2.0), (F.lit(CAP) - mj).cast("double")).cast("long"),
    ).otherwise(F.lit(0).cast("long"))


def estimate_expr(z_occ: Column, nb: Column) -> Column:
    """Distinct estimate from a folded register sum ``z_occ`` (over
    ``nb`` occupied registers): raw alpha·m²/Z estimator, replaced by
    the linear-counting table in the small range."""
    z = z_occ + (F.lit(M) - nb) * F.lit(1 << CAP)
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(M)))
    raw = alpha * F.lit(float(M * M)) * F.lit(float(1 << CAP)) / z.cast("double")
    v = F.lit(M) - nb  # empty registers
    lc = F.element_at(F.array(*[F.lit(x) for x in LC_TABLE]), v.cast("int"))
    return F.when((v > 0) & (raw <= F.lit(SMALL_RANGE)), lc).otherwise(raw)


def hll_distinct(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Per-group HyperLogLog distinct estimate of ``value_col``.

    Plan shape: per-row hash/bucket/rho projection (codegen, no
    Python) -> groupBy (group, bucket) max(rho) — 256·|groups| rows
    after the partial agg, so the shuffle moves registers, not data ->
    groupBy (group) register fold.  Two shuffles on tiny frames; the
    raw scan is touched once.
    """
    bucket, rho = register_cols(F.col(value_col))
    regs = (
        df.select(*group_cols, bucket.alias("__b"), rho.alias("__rho"))
        .groupBy(*group_cols, "__b")
        .agg(F.max("__rho").alias("__mj"))
    )
    folded = regs.groupBy(*group_cols).agg(
        F.sum(register_term(F.col("__mj"))).alias("__z_occ"),
        F.count(F.lit(1)).alias("__nb"),
    )
    return folded.select(
        *group_cols,
        estimate_expr(F.col("__z_occ"), F.col("__nb")).alias("hll_distinct"),
    )


def sql_register_exprs(value_expr: str) -> tuple[str, str]:
    """DuckDB twins of :func:`register_cols`: (bucket, rho) SQL."""
    rest = f"({_sql_hash(value_expr)} >> {P})"
    first_one = f"instr(lpad(bin({rest}), {REST_BITS}, '0'), '1')"
    bucket = f"({_sql_hash(value_expr)} & {M - 1})"
    rho = (
        f"CASE WHEN {first_one} = 0 THEN {REST_BITS + 1} "
        f"ELSE {first_one} END"
    )
    return bucket, rho


def sql_register_term(mj: str) -> str:
    """DuckDB twin of :func:`register_term`."""
    return (
        f"CASE WHEN {mj} <= {CAP} THEN CAST(pow(2.0, {CAP} - {mj}) AS BIGINT) "
        f"ELSE 0 END"
    )


def sql_estimate(z_occ: str, nb: str) -> tuple[str, str]:
    """DuckDB twin of :func:`estimate_expr`, split in two because SQL
    has no let-binding: returns (raw_select_expr, final_case_expr);
    compute ``raw_select_expr AS raw`` in an inner SELECT (alongside
    ``nb``) and apply the final CASE outside.

    Scientific-notation table literals parse directly as DOUBLE
    (strtod).  Plain decimal literals would parse as DECIMAL first,
    and the DECIMAL->DOUBLE cast double-rounds once the scaled integer
    exceeds 2^53 — a measured last-ulp divergence from F.lit.
    """
    raw = (
        f"0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / {float(M)}::DOUBLE)"
        f" * {float(M * M)}::DOUBLE * {float(1 << CAP)}::DOUBLE"
        f" / ({z_occ} + ({M} - {nb}) * {1 << CAP})::DOUBLE"
    )
    lc_list = "[" + ", ".join(_sci(x) for x in LC_TABLE) + "]"
    final = (
        f"CASE WHEN ({M} - nb) > 0 AND raw <= {SMALL_RANGE!r}::DOUBLE "
        f"THEN list_extract({lc_list}, {M} - nb) ELSE raw END"
    )
    return raw, final


def sql_hll_distinct(
    table: str, group_col: str, value_expr: str
) -> str:
    """DuckDB twin of :func:`hll_distinct` (single group column), as a
    complete SELECT suitable for a CTE."""
    bucket, rho = sql_register_exprs(value_expr)
    raw, final = sql_estimate("z_occ", "nb")
    return f"""
    SELECT {group_col}, {final} AS hll_distinct
    FROM (
    SELECT {group_col}, nb, {raw} AS raw
    FROM (
        SELECT {group_col},
               sum({sql_register_term('mj')}) AS z_occ,
               count(*) AS nb
        FROM (
            SELECT {group_col}, b, max(rho) AS mj
            FROM (
                SELECT {group_col}, {bucket} AS b, {rho} AS rho
                FROM {table}
            ) GROUP BY {group_col}, b
        ) GROUP BY {group_col}
    )
    )
    """


# --- Count-Min frequency sketch --------------------------------------------

CMS_D = 4  # hash rows
CMS_W = 256  # counters per row


def _cms_col(value: Column, i: int) -> Column:
    return md5_long(
        F.concat(F.lit(f"cms{i}:"), value.cast("string"))
    ) % CMS_W


def cms_build(df: DataFrame, value_col: str) -> DataFrame:
    """Build a Count-Min sketch over ``value_col``: D x W counter cells
    ``(i, col, n)``.

    The per-row explode emits D tiny structs; map-side partial
    aggregation collapses them before the shuffle, which therefore
    moves at most D·W = 1024 cells per partition — frequency counting
    whose state is CONSTANT in both stream length and key cardinality
    (the companion to hll_distinct's constant-state cardinality).
    Mergeable: cell-wise sum."""
    v = F.col(value_col)
    pairs = F.array(
        *[
            F.struct(F.lit(i).alias("i"), _cms_col(v, i).alias("col"))
            for i in range(CMS_D)
        ]
    )
    return (
        df.select(F.explode(pairs).alias("p"))
        .select("p.i", "p.col")
        .groupBy("i", "col")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cms_probe(cells: DataFrame, keys: DataFrame, key_col: str) -> DataFrame:
    """Point-estimate each key's frequency: min over the D cells the
    key hashes to.  Guarantees est >= true count (collisions only ADD);
    the cells frame is 1024 rows -> broadcast, so probing any number of
    keys is shuffle-free on the cells side."""
    k = F.col(key_col)
    pairs = F.array(
        *[
            F.struct(F.lit(i).alias("i"), _cms_col(k, i).alias("col"))
            for i in range(CMS_D)
        ]
    )
    exploded = keys.select(k.alias("__key"), F.explode(pairs).alias("p")).select(
        "__key", "p.i", "p.col"
    )
    return (
        exploded.join(F.broadcast(cells), ["i", "col"], "left")
        .groupBy("__key")
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).cast("long").alias("cms_est"))
        .withColumnRenamed("__key", key_col)
    )


def sql_cms(table: str, value_expr: str, key_select: str) -> str:
    """DuckDB twin: build + probe in one query.  ``key_select`` is a
    SELECT yielding one column named ``key``."""
    def col_expr(ref: str, i: int) -> str:
        return (
            f"(('0x' || substr(md5('cms{i}:' || CAST({ref} AS VARCHAR)), 1, 15))"
            f"::BIGINT % {CMS_W})"
        )

    build_arms = " UNION ALL ".join(
        f"SELECT {i} AS i, {col_expr(value_expr, i)} AS col FROM {table}"
        for i in range(CMS_D)
    )
    probe_arms = " UNION ALL ".join(
        f"SELECT key, {i} AS i, {col_expr('key', i)} AS col FROM keys"
        for i in range(CMS_D)
    )
    return f"""
    WITH cells AS (
        SELECT i, col, count(*)::BIGINT AS n FROM ({build_arms}) GROUP BY i, col
    ), keys AS ({key_select}),
    probes AS ({probe_arms})
    SELECT probes.key, min(coalesce(cells.n, 0))::BIGINT AS cms_est
    FROM probes LEFT JOIN cells ON probes.i = cells.i AND probes.col = cells.col
    GROUP BY probes.key
    """


# --- deterministic stratified sampling -------------------------------------

SCALE = 10_000  # sampling resolution: rates are per-ten-thousand


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    rates: dict[str, float],
    key_col: str,
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep a deterministic per-stratum fraction of rows.

    ``rates`` maps stratum value -> fraction in [0, 1].  Membership is
    ``md5(key) % SCALE < rate·SCALE`` — a pure per-row predicate: no
    shuffle, no RNG state, reproducible across engines/runs/retries
    (the property random samplers lose under task re-execution), and
    the SAME rows stay selected as the table grows — a consistent
    sample across pipeline versions.  Spark's df.sampleBy is
    per-partition RNG — none of those properties hold there.
    """
    h = md5_long(F.concat(F.lit("strat:"), F.col(key_col).cast("string"))) % SCALE
    expr = None
    for value, rate in sorted(rates.items()):
        branch = (F.col(stratum_col) == value, F.lit(int(round(rate * SCALE))))
        expr = F.when(*branch) if expr is None else expr.when(*branch)
    thr = expr.otherwise(F.lit(int(round(default_rate * SCALE))))
    return df.filter(h < thr)


def sql_stratified_predicate(stratum_expr: str, rates: dict[str, float], key_expr: str) -> str:
    """DuckDB WHERE-clause twin of :func:`stratified_sample` (unlisted
    strata at rate 0)."""
    h = f"(('0x' || substr(md5('strat:' || CAST({key_expr} AS VARCHAR)), 1, 15))::BIGINT % {SCALE})"
    branches = " ".join(
        f"WHEN '{v}' THEN {int(round(r * SCALE))}" for v, r in sorted(rates.items())
    )
    return (
        f"{h} < (CASE {stratum_expr} {branches} "
        "ELSE 0 END)"
    )


# --- Bloom-filter semi-join pruning ----------------------------------------

# The classic 100 TB star-join shuffle-avoidance lever: build a compact
# Bloom filter of the dimension's join keys, broadcast it, and prune
# the fact side BEFORE any exchange — what Spark's own runtime Bloom
# pruning (spark.sql.optimizer.runtime.bloomFilter.*) does inside the
# optimizer, made explicit, portable, and measurable here (false
# positives are COUNTED in-data against the exact semi-join).
#
# Engine-portable layout: 62-bit words (max shift 61 — DuckDB raises
# on 1<<63 and bit 62 would flip the sign), md5 double hashing
# (h1 + j*h2, the operators/dedup.py MinHash convention), and
# data-driven sizing at BLOOM_BITS_PER_KEY bits/key rounded up to a
# whole word (the fill factor — and with it the ~0.2% FP rate of
# k=4 probes at 16 bits/key — is scale-invariant, unlike a fixed-m
# filter that saturates at 10x the keys).  All arithmetic BIGINT.
BLOOM_BITS_PER_KEY = 16
BLOOM_K = 4
BLOOM_WORD = 62


def bloom_h1(key: Column) -> Column:
    return F.conv(F.substring(F.md5(F.concat(F.lit("bf:"), key.cast("string"))), 1, 15), 16, 10).cast("long")


def bloom_h2(key: Column) -> Column:
    return F.shiftright(
        F.conv(F.substring(F.md5(F.concat(F.lit("bf:"), key.cast("string"))), 16, 15), 16, 10).cast("long"),
        4,
    )


def sql_bloom_h1(expr: str) -> str:
    return f"('0x' || substr(md5('bf:' || CAST({expr} AS VARCHAR)), 1, 15))::BIGINT"


def sql_bloom_h2(expr: str) -> str:
    return f"(('0x' || substr(md5('bf:' || CAST({expr} AS VARCHAR)), 16, 15))::BIGINT >> 4)"
