"""Text-curation catalog queries: token-budget and temperature mixing,
Gopher quality rules, and the end-to-end curation composition.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import tokens
from ..operators import dedup as D
from ..operators.lm import sql_lm_chain
from ..operators.text_analysis import STOPWORDS
from .catalog import load, register
from .dedup_lsh import _SIG_CTES
from .llm_ops import LSH_BANDS, LSH_CAP, LSH_K, LSH_THRESH


# ===========================================================================
# Token-budget mixture allocation — integer water-filling (round 7c)
# ===========================================================================

_MIX_BUDGET_PCT = 95  # global token budget as % of corpus tokens


# Shared CTE chain: tokenize -> per-source avail -> integer water-fill
# level.  token_budget_mix appends the allocation SELECT; the _apply
# twin wraps that SELECT as one more CTE and realizes the sample; the
# curation_end_to_end composition splices the same chain over its
# LM-survivor relation with a CTE-name prefix (one generator, so the
# water-fill expressions can never fork — the bloom-constants lesson).


def sql_mix_chain(doc_cte: str = "documents", p: str = "") -> str:
    return f"""
    {p}tok AS (SELECT doc_id, source,
                        len(CASE WHEN trim(lower(coalesce(text, ''))) = ''
                                 THEN []::VARCHAR[]
                                 ELSE string_split_regex(
                                          trim(lower(coalesce(text, ''))), '\\s+')
                            END)::BIGINT AS nt
                 FROM {doc_cte}),
    {p}src AS (SELECT source, count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS avail
            FROM {p}tok GROUP BY source),
    {p}tot AS (SELECT count(*)::BIGINT AS s,
                   (sum(avail) * {_MIX_BUDGET_PCT}) // 100 AS budget
            FROM {p}src),
    {p}ord AS (SELECT {p}src.*, s, budget,
                   row_number() OVER (ORDER BY avail, source) AS i,
                   coalesce(sum(avail) OVER (ORDER BY avail, source
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0)::BIGINT AS p_prev
            FROM {p}src CROSS JOIN {p}tot),
    {p}lvl AS (SELECT *, (budget - p_prev) // (s - i + 1) AS level,
                   avail > (budget - p_prev) // (s - i + 1) AS is_capped
            FROM {p}ord),
    {p}jj AS (SELECT coalesce(min(CASE WHEN is_capped THEN i END),
                           (SELECT s FROM {p}tot) + 1) AS j
           FROM {p}lvl),
    {p}lam AS (SELECT coalesce(min(CASE WHEN i = j THEN level END), 0) AS lambda
            FROM {p}lvl CROSS JOIN {p}jj)"""


def sql_mix_select(p: str = "") -> str:
    return f"""SELECT source, n_docs, avail AS tokens_avail,
           CASE WHEN i < j THEN avail ELSE lambda END AS tokens_alloc,
           i >= j AS capped,
           CASE WHEN avail > 0
                THEN ((CASE WHEN i < j THEN avail ELSE lambda END) * 1000000)
                     // avail
                ELSE 0 END AS accept_ppm
    FROM {p}lvl CROSS JOIN {p}jj CROSS JOIN {p}lam"""


_MIX_CHAIN = "\n    WITH" + sql_mix_chain()
_MIX_SELECT = sql_mix_select()


@register(
    "token_budget_mix",
    _MIX_CHAIN + "\n    " + _MIX_SELECT,
    survey_ids=("A1", "O5"),
    doc="Mixture design under a global token budget (the Pile/Dolma "
    "source-mixing step): exact integer WATER-FILLING — sources are "
    "leveled at the largest lambda such that sum(min(avail, lambda)) "
    f"fits the budget ({_MIX_BUDGET_PCT}% of corpus tokens), so small "
    "sources keep everything and large sources are capped at the "
    "water line.  Alloc rule is defined through j = first capped "
    "index in the (avail, source) order — identical expressions in "
    "both engines, no reliance on floating water levels or on "
    "cap-monotonicity under integer division.  Emits accept_ppm as "
    "the handoff to the md5 per-row acceptance sampler "
    "(source_rebalance's realization mechanism).  Scale: one "
    "source-keyed aggregation over the corpus; everything after runs "
    "on the S-row source relation (windows over #sources rows, the "
    "documented group-reduced exception).",
)
def q_token_budget_mix(spark, sf_dir):
    return mix_design(load(spark, sf_dir, "documents"))


def mix_design(docs):
    """The water-fill allocation over any (source, text) relation —
    shared by token_budget_mix (full corpus) and the round-8
    curation composition (LM-filter survivors)."""


    src = (
        docs.select(
            "source",
            F.size(tokens(F.lower(F.coalesce(F.col("text"), F.lit(""))))).cast(
                "long"
            ).alias("nt"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("avail"),
        )
    )
    tot = src.agg(
        F.count(F.lit(1)).cast("long").alias("s"),
        F.expr(f"(sum(avail) * {_MIX_BUDGET_PCT}) div 100").alias("budget"),
    )
    # bounded-frame: one row per source
    w = Window.orderBy("avail", "source")
    ordd = (
        src.crossJoin(F.broadcast(tot))
        .withColumn("i", F.row_number().over(w).cast("long"))
        .withColumn(
            "p_prev",
            F.coalesce(
                F.sum("avail").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).cast("long"),
        )
    )
    lvl = ordd.withColumn(
        "level", F.expr("(budget - p_prev) div (s - i + 1)")
    ).withColumn("is_capped", F.col("avail") > F.col("level"))
    jj = lvl.agg(
        F.coalesce(
            F.min(F.when(F.col("is_capped"), F.col("i"))),
            (F.first("s") + 1),
        ).alias("j")
    )
    lam = (
        lvl.crossJoin(F.broadcast(jj))
        .agg(
            F.coalesce(
                F.min(F.when(F.col("i") == F.col("j"), F.col("level"))), F.lit(0)
            ).cast("long").alias("lambda")
        )
    )
    out = (
        lvl.crossJoin(F.broadcast(jj))
        .crossJoin(F.broadcast(lam))
        .withColumn(
            "tokens_alloc",
            F.when(F.col("i") < F.col("j"), F.col("avail")).otherwise(
                F.col("lambda")
            ),
        )
    )
    return out.select(
        "source",
        "n_docs",
        F.col("avail").alias("tokens_avail"),
        "tokens_alloc",
        (F.col("i") >= F.col("j")).alias("capped"),
        F.when(F.col("avail") > 0, F.expr("(tokens_alloc * 1000000) div avail"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("accept_ppm"),
    )


@register(
    "token_budget_mix_apply",
    _MIX_CHAIN + ",\n    mix AS (" + _MIX_SELECT + """),
    acc AS (SELECT t.source, t.nt
            FROM tok t JOIN mix USING (source)
            WHERE ('0x' || substr(md5('mix:' || CAST(t.doc_id AS VARCHAR)), 1, 15))::BIGINT
                  % 1000000 < mix.accept_ppm),
    ag AS (SELECT source, count(*)::BIGINT AS docs_kept,
                  sum(nt)::BIGINT AS tokens_kept
           FROM acc GROUP BY source)
    SELECT mix.source, mix.tokens_alloc, mix.accept_ppm,
           coalesce(ag.docs_kept, 0)::BIGINT AS docs_kept,
           coalesce(ag.tokens_kept, 0)::BIGINT AS tokens_kept
    FROM mix LEFT JOIN ag USING (source)
    """,
    survey_ids=("A1", "A2"),
    doc="The mixture REALIZED: token_budget_mix's accept_ppm drives "
    "the md5 per-row acceptance sampler (source_rebalance's "
    "mechanism — deterministic, RNG-free, append-stable) and the "
    "realized per-source document/token yield is reported against "
    "the allocation.  Sampling is doc-granular so the realized token "
    "count differs from the target by binomial noise — visible "
    "in-data, which is the point: the design->realize gap is a "
    "number, not an assumption.  Scale: the corpus is scanned once "
    "more with the S-row mix table broadcast onto it; one keyed "
    "aggregation.",
)
def q_token_budget_mix_apply(spark, sf_dir):
    from ..functions import md5_long

    mix = q_token_budget_mix(spark, sf_dir).select(
        "source", "tokens_alloc", "accept_ppm"
    )
    docs = load(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(tokens(F.lower(F.coalesce(F.col("text"), F.lit(""))))).cast(
            "long"
        ).alias("nt"),
    )
    acc = (
        docs.join(F.broadcast(mix), "source")
        .filter(
            md5_long(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
            % 1000000
            < F.col("accept_ppm")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs_kept"),
            F.sum("nt").cast("long").alias("tokens_kept"),
        )
    )
    return mix.join(acc, "source", "left").select(
        "source",
        "tokens_alloc",
        "accept_ppm",
        F.coalesce("docs_kept", F.lit(0)).cast("long").alias("docs_kept"),
        F.coalesce("tokens_kept", F.lit(0)).cast("long").alias("tokens_kept"),
    )


# ===========================================================================
# End-to-end curation: dedup -> LM filter -> token-budget mix, one plan
# ===========================================================================


def _curation_oracle() -> str:
    from ..operators.lm import LM_KEEP_E9

    return (
        _SIG_CTES
        + D.sql_lsh_star_edges(LSH_K, LSH_BANDS, LSH_CAP, LSH_THRESH)
        + f""",
    survivors AS (SELECT d.doc_id, d.source, d.text FROM documents d
                  WHERE d.doc_id NOT IN (SELECT dst_id FROM edges)),
    {sql_lm_chain(source="survivors", bare=True).strip()},
    ksc AS (SELECT agg.doc_id, (s // n_bigrams) >= {LM_KEEP_E9} AS kept FROM agg),
    kept_docs AS (SELECT sv.doc_id, sv.source, sv.text
                  FROM survivors sv JOIN ksc USING (doc_id) WHERE ksc.kept),
    {sql_mix_chain("kept_docs", "m").strip()},
    mix AS ({sql_mix_select("m")}),
    sel AS (SELECT t.source, t.nt FROM mtok t JOIN mix USING (source)
            WHERE ('0x' || substr(md5('mix:' || CAST(t.doc_id AS VARCHAR)), 1, 15))::BIGINT
                  % 1000000 < mix.accept_ppm),
    araw AS (SELECT source, count(*)::BIGINT AS n_raw FROM documents GROUP BY source),
    adedup AS (SELECT source, count(*)::BIGINT AS n_dedup FROM survivors GROUP BY source),
    ascored AS (SELECT sv.source, count(*)::BIGINT AS n_scored,
                       sum(CASE WHEN ksc.kept THEN 1 ELSE 0 END)::BIGINT AS n_kept
                FROM ksc JOIN survivors sv USING (doc_id) GROUP BY sv.source),
    asel AS (SELECT source, count(*)::BIGINT AS n_selected,
                    sum(nt)::BIGINT AS tokens_selected
             FROM sel GROUP BY source)
    SELECT araw.source, n_raw,
           coalesce(n_dedup, 0)::BIGINT AS n_dedup,
           coalesce(n_scored, 0)::BIGINT AS n_scored,
           coalesce(n_kept, 0)::BIGINT AS n_kept,
           coalesce(n_selected, 0)::BIGINT AS n_selected,
           coalesce(tokens_selected, 0)::BIGINT AS tokens_selected
    FROM araw LEFT JOIN adedup USING (source)
              LEFT JOIN ascored USING (source)
              LEFT JOIN asel USING (source)"""
    )


@register(
    "curation_end_to_end",
    _curation_oracle(),
    survey_ids=("A1", "J4"),
    doc="The full curation pipeline COMPOSED: collapse-first LSH "
    "dedup (lsh_dedup_edges — drop every star/near dst_id, keep "
    "reps) -> bigram-LM quality filter on the survivors (train split "
    "doc_id%5==0 is the reference data and is excluded from yield; "
    "held docs keep at the e9 threshold) -> token-budget water-fill "
    "mixture over the kept docs, REALIZED through the deterministic "
    "md5 acceptance sampler — reported as a per-source audit table "
    "(raw -> deduped -> scored -> kept -> selected, with realized "
    "token yield).  Each stage is an operator the catalog verifies "
    "in isolation (lsh_dup_star_edges, ngram_lm_score, "
    "token_budget_mix_apply); the composition shares their exact "
    "generators on BOTH sides (sql_lsh_star_edges / sql_lm_chain "
    "with source=survivors / sql_mix_chain with a CTE prefix), so "
    "pipeline semantics and stage semantics cannot drift apart.  "
    "The survivor set is materialized once (localCheckpoint — at "
    "production scale, a parquet handoff) because three stages read "
    "it; everything else stays one lazy Catalyst plan per stage "
    "with S-row broadcast joins between stages.",
)
def q_curation_end_to_end(spark, sf_dir):
    from ..functions import md5_long
    from ..operators.lm import lm_score

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    sig = D.minhash_signature(docs.select("doc_id", "text"), "text", k=LSH_K).drop(
        "text"
    )
    edges = D.lsh_dedup_edges(
        sig, "doc_id", k=LSH_K, bands=LSH_BANDS,
        max_bucket=LSH_CAP, verify_min=LSH_THRESH,
    )
    dst = edges.select(F.col("dst_id").alias("doc_id")).distinct()
    # Materialize survivors once: the LM trainer, the scorer, the kept
    # join and two audits all read it, and re-deriving the minhash md5
    # trees per reference both recomputes the dedup and blows up plan
    # construction (the lsh_recall_audit TreeNode lesson).
    survivors = docs.join(dst, "doc_id", "left_anti").localCheckpoint(eager=True)

    from ..caching import track_cache

    # The two other shared stages are cached, not re-derived: `scored`
    # feeds the kept join AND the per-source audit, `kept_docs` feeds
    # the mix design AND the selection — without the cache Catalyst
    # duplicates each subtree per reference (no CSE), which measured
    # 69 exchanges / 100 broadcasts of pure textual blowup in the
    # static plan.  cache() (not localCheckpoint) keeps lineage while
    # collapsing every reference to one InMemoryTableScan.
    scored = track_cache(lm_score(survivors))
    kept_docs = track_cache(
        survivors.join(scored.filter(F.col("kept")).select("doc_id"), "doc_id")
    )
    mix = mix_design(kept_docs).select("source", "accept_ppm")
    ntok = F.size(tokens(F.lower(F.coalesce(F.col("text"), F.lit(""))))).cast("long")
    sel = (
        kept_docs.withColumn("nt", ntok)
        .join(F.broadcast(mix), "source")
        .filter(
            md5_long(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
            % 1000000
            < F.col("accept_ppm")
        )
    )

    araw = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_raw"))
    adedup = survivors.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_dedup")
    )
    ascored = (
        scored.join(survivors.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored"),
            F.sum(F.col("kept").cast("int")).cast("long").alias("n_kept"),
        )
    )
    asel = sel.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_selected"),
        F.sum("nt").cast("long").alias("tokens_selected"),
    )
    out = (
        araw.join(adedup, "source", "left")
        .join(ascored, "source", "left")
        .join(asel, "source", "left")
    )
    return out.select(
        "source",
        "n_raw",
        F.coalesce("n_dedup", F.lit(0)).cast("long").alias("n_dedup"),
        F.coalesce("n_scored", F.lit(0)).cast("long").alias("n_scored"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("n_selected", F.lit(0)).cast("long").alias("n_selected"),
        F.coalesce("tokens_selected", F.lit(0)).cast("long").alias("tokens_selected"),
    )


# ===========================================================================
# Gopher quality rules (Rae et al. 2021, word-level subset)
# ===========================================================================

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MWL = 3  # mean word length bounds, compared as integers:
GOPHER_MAX_MWL = 10  # MIN*n <= sum_chars <= MAX*n (no float division)
GOPHER_MIN_STOPWORDS = 2  # distinct stopword types required
GOPHER_ALPHA_PCT = 80  # % of words that must contain a letter

_SW = ", ".join(f"'{w}'" for w in STOPWORDS)


# The metrics CTE chain (t, m) and the Spark metrics frame are shared
# with gopher_rule_attribution so rule definitions cannot
# drift between the boolean view and the attribution view.
GOPHER_METRIC_CTES = f"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                    ELSE string_split_regex(trim(text), '\\s+') END AS tk
        FROM documents
    ), m AS (
        SELECT doc_id,
               len(tk)::BIGINT AS n_words,
               list_sum(list_transform(tk, x -> len(x)))::BIGINT AS n_chars,
               len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))::BIGINT
                   AS n_alpha,
               len(list_distinct(list_transform(list_filter(tk,
                   x -> list_contains([{_SW}], lower(x))),
                   x -> lower(x))))::BIGINT AS n_stop
        FROM t
    )"""

# SQL rule predicates over the m frame, by rule name (order = report order).
GOPHER_RULES_SQL = {
    "word_count": f"(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})",
    "mean_word_len": (
        f"(n_chars >= {GOPHER_MIN_MWL} * n_words"
        f" AND n_chars <= {GOPHER_MAX_MWL} * n_words)"
    ),
    "stopwords": f"(n_stop >= {GOPHER_MIN_STOPWORDS})",
    "alpha_words": f"(n_alpha * 100 >= {GOPHER_ALPHA_PCT} * n_words)",
}


def gopher_metrics(spark, sf_dir):
    """(doc_id, n_words, n_chars, n_alpha, n_stop) — the fused-token
    metric pass both gopher consumers build their rules on."""
    d = load(spark, sf_dir, "documents")
    tk = tokens(F.trim(F.col("text")))
    d = d.select("doc_id", tk.alias("tk"))
    n = F.size("tk").cast("long")
    chars = F.aggregate(
        F.transform("tk", lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    alpha = F.size(F.filter("tk", lambda x: x.rlike("[A-Za-z]"))).cast("long")
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    # Distinct stopword TYPES are counted case-folded ('The' and 'the'
    # are one type) — lowercase BEFORE array_distinct on both engines.
    stop = F.size(
        F.array_distinct(
            F.transform(
                F.filter("tk", lambda x: F.array_contains(sw, F.lower(x))),
                F.lower,
            )
        )
    ).cast("long")
    return d.select(
        "doc_id",
        n.alias("n_words"),
        chars.alias("n_chars"),
        alpha.alias("n_alpha"),
        stop.alias("n_stop"),
    )


def gopher_rules(metrics):
    """Rule-name -> boolean Column over the metrics frame (mirrors
    GOPHER_RULES_SQL term for term)."""
    return {
        "word_count": F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS),
        "mean_word_len": (
            F.col("n_chars") >= GOPHER_MIN_MWL * F.col("n_words")
        ) & (F.col("n_chars") <= GOPHER_MAX_MWL * F.col("n_words")),
        "stopwords": F.col("n_stop") >= GOPHER_MIN_STOPWORDS,
        "alpha_words": F.col("n_alpha") * 100 >= GOPHER_ALPHA_PCT * F.col("n_words"),
    }


@register(
    "gopher_quality_rules",
    GOPHER_METRIC_CTES
    + f"""
    SELECT doc_id, n_words,
           {GOPHER_RULES_SQL["word_count"]} AS r_word_count,
           {GOPHER_RULES_SQL["mean_word_len"]} AS r_mean_word_len,
           {GOPHER_RULES_SQL["stopwords"]} AS r_stopwords,
           {GOPHER_RULES_SQL["alpha_words"]} AS r_alpha_words,
           ({" AND ".join(GOPHER_RULES_SQL.values())}) AS keep
    FROM m
    """,
    survey_ids=("G5", "A2"),
    doc="The NAMED Gopher document-quality rules (Rae et al. 2021 "
    "§A1.1, public), word-level subset, as per-document booleans "
    "plus the conjunctive keep flag: word count in "
    f"[{GOPHER_MIN_WORDS}, {GOPHER_MAX_WORDS}], mean word length in "
    f"[{GOPHER_MIN_MWL}, {GOPHER_MAX_MWL}] (compared as integers — "
    "MIN*n <= chars <= MAX*n, no float division to round), >= "
    f"{GOPHER_MIN_STOPWORDS} distinct stopword types, >= "
    f"{GOPHER_ALPHA_PCT}% words containing a letter.  The paper's "
    "line-based rules (ellipsis starts, bullet ratios) are "
    "INAPPLICABLE here — the synthetic documents are single-line "
    "(measured: zero newlines at every SF) — and documented out "
    "rather than silently skipped.  Complements doc_quality (score) "
    "and the LM/perceptron filters (learned): these are the "
    "hand-set, named thresholds a real pipeline runs FIRST.  One "
    "projection pass, no shuffle at all — every rule is an "
    "expression over the fused token array.",
)
def q_gopher_quality_rules(spark, sf_dir):
    m = gopher_metrics(spark, sf_dir)
    r = gopher_rules(m)
    keep = r["word_count"] & r["mean_word_len"] & r["stopwords"] & r["alpha_words"]
    return m.select(
        "doc_id",
        "n_words",
        r["word_count"].alias("r_word_count"),
        r["mean_word_len"].alias("r_mean_word_len"),
        r["stopwords"].alias("r_stopwords"),
        r["alpha_words"].alias("r_alpha_words"),
        keep.alias("keep"),
    )


# ===========================================================================
# Gopher rule attribution (which filter kills what, uniquely)
# ===========================================================================


def _gopher_attr_oracle() -> str:
    rules = list(GOPHER_RULES_SQL)
    flags = ", ".join(f"{GOPHER_RULES_SQL[r]} AS r_{r}" for r in rules)
    arms = []
    for r in rules:
        others = " AND ".join(f"r_{o}" for o in rules if o != r)
        arms.append(
            f"""
        SELECT '{r}' AS rule,
               sum(CASE WHEN NOT r_{r} THEN 1 ELSE 0 END)::BIGINT AS n_fail,
               sum(CASE WHEN NOT r_{r} AND {others} THEN 1 ELSE 0 END)::BIGINT
                   AS n_unique_fail
        FROM f"""
        )
    keep_all = " AND ".join(f"r_{r}" for r in rules)
    return (
        GOPHER_METRIC_CTES
        + f""", f AS (
        SELECT doc_id, {flags} FROM m
    ), tot AS (
        SELECT count(*)::BIGINT AS n_docs,
               sum(CASE WHEN {keep_all} THEN 1 ELSE 0 END)::BIGINT AS n_keep
        FROM f
    ), per AS ({" UNION ALL ".join(arms)})
    SELECT per.rule, per.n_fail, per.n_unique_fail, tot.n_docs, tot.n_keep
    FROM per CROSS JOIN tot
    """
    )


@register(
    "gopher_rule_attribution",
    _gopher_attr_oracle(),
    survey_ids=("A2", "A1"),
    doc="Filter-rule KILL ATTRIBUTION for the Gopher stack — the table "
    "a pipeline owner reads before loosening a threshold: per rule, "
    "how many documents fail it at all (n_fail) and how many it "
    "UNIQUELY removes (n_unique_fail: fails this rule, passes every "
    "other) — the rule's marginal contribution, since a doc failing "
    "two rules returns with neither threshold change alone.  Shares "
    "the metric pass and the rule predicates with "
    "gopher_quality_rules (round8c.GOPHER_RULES_SQL / gopher_rules — "
    "the attribution and the boolean view cannot drift).  Plan "
    "shape: ONE fused-token projection pass computes all four flags, "
    "then a single global aggregate per rule arm over the cached "
    "flag frame — no shuffle carries anything wider than the "
    "counters; at 100 TB this is a scan plus map-side partial "
    "aggregation, the cheapest audit in the stack.",
)
def q_gopher_rule_attribution(spark, sf_dir):
    from ..caching import track_cache

    rules = list(GOPHER_RULES_SQL)
    m = gopher_metrics(spark, sf_dir)
    r = gopher_rules(m)
    # One projection computes every flag; cached because each rule arm
    # and the totals re-read it (Catalyst does no CSE across branches).
    # Re-measured round 13 (A/B at sf0.1): 1.15 s cached vs 1.13 s
    # without — a wash HERE, kept because the cached frame is 9 narrow
    # columns per doc while recompute is ~9 full text-metric passes
    # (gopher_metrics tokenizes) with no shared exchange to reuse —
    # the un-cached wash at sf0.1 is the scan being cheap, not the
    # recompute being free.
    f = track_cache(
        m.select("doc_id", *[r[name].alias(f"r_{name}") for name in rules])
    )
    keep_all = None
    for name in rules:
        c = F.col(f"r_{name}")
        keep_all = c if keep_all is None else (keep_all & c)
    tot = f.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(keep_all.cast("int")).cast("long").alias("n_keep"),
    )
    arms = []
    for name in rules:
        others = None
        for o in rules:
            if o == name:
                continue
            c = F.col(f"r_{o}")
            others = c if others is None else (others & c)
        arms.append(
            f.agg(
                F.sum((~F.col(f"r_{name}")).cast("int"))
                .cast("long")
                .alias("n_fail"),
                F.sum(((~F.col(f"r_{name}")) & others).cast("int"))
                .cast("long")
                .alias("n_unique_fail"),
            ).select(F.lit(name).alias("rule"), "n_fail", "n_unique_fail")
        )
    per = arms[0]
    for a in arms[1:]:
        per = per.unionByName(a)
    return per.crossJoin(F.broadcast(tot)).select(
        "rule", "n_fail", "n_unique_fail", "n_docs", "n_keep"
    )


# ===========================================================================
# Temperature-flattened source mixing (T = 2, exact integer sqrt)
# ===========================================================================

TMIX_BUDGET_PCT = 50  # global token budget as % of corpus tokens

# Exact integer sqrt: float seed + integer correction (the float sqrt
# of a BIGINT can be off by one ulp at perfect-square boundaries —
# the correction makes the result bit-portable across engines).
_ISQRT_SQL = """(CASE WHEN (f0 + 1) * (f0 + 1) <= avail THEN f0 + 1
                      WHEN f0 * f0 > avail THEN f0 - 1
                      ELSE f0 END)"""


def _tmix_oracle() -> str:
    pct = TMIX_BUDGET_PCT
    samp = "('0x' || substr(md5('tmix:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
    return f"""
    WITH toks AS (
        -- coalesce mirrors the Spark side's coalesce(text, ''): a NULL
        -- text row must count 0 tokens, not poison sum(nt) with NULL.
        SELECT doc_id, source,
               CASE WHEN trim(lower(coalesce(text, ''))) = '' THEN 0
                    ELSE len(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'))
               END::BIGINT AS nt
        FROM documents
    ), src AS (
        SELECT source, count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS avail
        FROM toks GROUP BY source
    ), sq AS (
        SELECT source, n_docs, avail,
               floor(sqrt(avail))::BIGINT AS f0
        FROM src
    ), wts AS (
        SELECT source, n_docs, avail, {_ISQRT_SQL}::BIGINT AS w FROM sq
    ), tot AS (
        SELECT sum(w)::BIGINT AS sum_w,
               (sum(avail) * {pct}) // 100 AS budget
        FROM wts
    ), alloc AS (
        SELECT w.source, w.n_docs, w.avail, w.w,
               least((t.budget * w.w) // t.sum_w, w.avail) AS tokens_alloc
        FROM wts w CROSS JOIN tot t
    ), des AS (
        SELECT source, n_docs, avail AS tokens_avail, w,
               CASE WHEN avail = 0 THEN 0
                    ELSE least(1000000, (tokens_alloc * 1000000) // avail)
               END::BIGINT AS accept_ppm
        FROM alloc
    ), kept AS (
        SELECT t.source, count(*)::BIGINT AS docs_kept,
               sum(t.nt)::BIGINT AS tokens_kept
        FROM toks t JOIN des USING (source)
        WHERE {samp} % 1000000 < des.accept_ppm
        GROUP BY t.source
    )
    SELECT des.source, des.n_docs, des.tokens_avail, des.w, des.accept_ppm,
           coalesce(kept.docs_kept, 0)::BIGINT AS docs_kept,
           coalesce(kept.tokens_kept, 0)::BIGINT AS tokens_kept
    FROM des LEFT JOIN kept USING (source)
    """


@register(
    "source_temperature_mix",
    _tmix_oracle(),
    survey_ids=("A1", "A2"),
    doc="Temperature-flattened source mixing, T=2 — the multilingual-"
    "LM sampling rule (sample source s with probability proportional "
    "to n_s^(1/T), flattening the head so low-resource sources are "
    "not drowned; T=2 => weights are integer square roots of token "
    "mass, computed EXACTLY via float seed + integer correction so "
    f"both engines agree at perfect-square boundaries).  A "
    f"{TMIX_BUDGET_PCT}% global token budget is split proportionally "
    "to the flattened weights (single-shot proportional rule, capped "
    "at each source's own supply — deliberately NOT water-fill: "
    "token_budget_mix redistributes cap overflow, this rule shows "
    "the flattening itself; run both and diff to see what "
    "redistribution buys), realized through the deterministic md5 "
    "acceptance sampler and reported as per-source design + realized "
    "yield.  Plan: one tokenize pass -> per-source aggregate (tiny) "
    "-> broadcast design joined back for the acceptance filter — "
    "corpus touched twice, shuffled never (acceptance is a scan-side "
    "predicate on broadcast ppm thresholds).",
)
def q_source_temperature_mix(spark, sf_dir):
    from ..functions import md5_long

    pct = TMIX_BUDGET_PCT
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.size(tokens(F.lower(F.coalesce(F.col("text"), F.lit(""))))).cast(
            "long"
        ).alias("nt"),
    )
    src = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("avail"),
    )
    wts = src.withColumn(
        "f0", F.floor(F.sqrt(F.col("avail"))).cast("long")
    ).withColumn("w", F.expr(_ISQRT_SQL).cast("long"))
    tot = wts.agg(
        F.sum("w").cast("long").alias("sum_w"),
        F.expr(f"(sum(avail) * {pct}) div 100").cast("long").alias("budget"),
    )
    des = (
        wts.crossJoin(F.broadcast(tot))
        .withColumn(
            "tokens_alloc",
            F.least(F.expr("(budget * w) div sum_w"), F.col("avail")).cast(
                "long"
            ),
        )
        .select(
            "source",
            "n_docs",
            F.col("avail").alias("tokens_avail"),
            "w",
            F.when(F.col("avail") == 0, F.lit(0))
            .otherwise(
                F.least(
                    F.lit(1000000),
                    F.expr("(tokens_alloc * 1000000) div avail"),
                )
            )
            .cast("long")
            .alias("accept_ppm"),
        )
    )
    kept = (
        toks.join(F.broadcast(des.select("source", "accept_ppm")), "source")
        .filter(
            md5_long(F.concat(F.lit("tmix:"), F.col("doc_id").cast("string")))
            % 1000000
            < F.col("accept_ppm")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs_kept"),
            F.sum("nt").cast("long").alias("tokens_kept"),
        )
    )
    return des.join(kept, "source", "left").select(
        "source",
        "n_docs",
        "tokens_avail",
        "w",
        "accept_ppm",
        F.coalesce("docs_kept", F.lit(0)).cast("long").alias("docs_kept"),
        F.coalesce("tokens_kept", F.lit(0)).cast("long").alias("tokens_kept"),
    )
