"""Text-curation catalog queries: per-document statistics, quality and
language ID, repetition, boilerplate, PII and contamination signals,
packing, chunking and splits, token-budget and temperature mixing,
Gopher quality rules, and the end-to-end curation composition.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import Window

from ..functions import md5_long_sql, tokens
from ..operators import dedup as D
from ..operators import pipeline_text as PT
from ..operators import text_analysis as TA
from ..operators.lm import sql_lm_chain
from ..operators.text_analysis import STOPWORDS, sql_tokens
from ..pipelines.jobsearch import KNOWN_STATUSES, classify_status

from .catalog import load, register
from .dedup_lsh import LSH_BANDS, LSH_CAP, LSH_K, LSH_THRESH, _SIG_CTES


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


@register(
    "doc_token_stats",
    f"""
    SELECT doc_id, {TA.sql_token_count('text')} AS n_tokens,
           {TA.sql_mean_token_len('text')} AS mean_token_len,
           length(text)::BIGINT AS n_chars_actual
    FROM documents
    """,
    survey_ids=("G2", "G3"),
    doc="Token counting (whitespace tokenizer) + mean token length.",
)
def q_doc_token_stats(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    # Materialize the token array ONCE; n_tokens and mean_token_len then
    # read the array column instead of each re-splitting the text
    # (CollapseProject keeps the split un-inlined because the alias is
    # referenced more than once and is non-cheap).
    d = d.select("doc_id", t, tokens(t).alias("__tk"))
    n = F.size("__tk")
    total = F.aggregate(
        F.transform(F.col("__tk"), F.length), F.lit(0), lambda acc, x: acc + x
    )
    return d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.when(n > 0, total.cast("double") / n.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("mean_token_len"),
        F.length(F.col("text")).cast("long").alias("n_chars_actual"),
    )


@register(
    "doc_quality",
    f"""
    SELECT doc_id, {TA.sql_stopword_ratio('text')} AS stopword_ratio,
           {TA.sql_punct_ratio('text')} AS punct_ratio,
           {TA.sql_quality_score('text')} AS quality_score
    FROM documents
    """,
    survey_ids=(),
    doc="Quality scoring: length/punct/stopword ratios -> composite score.",
)
def q_doc_quality(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    # Round-1 bench hot spot (4.4x DuckDB): stopword_ratio/token_count/
    # quality_score each re-split the text, ~5 splits + filters per row.
    # Fuse: materialize the raw-token and lowered-token arrays once,
    # compute the three base metrics in a middle projection, and build
    # the composite score from the NAMED columns so every value is
    # bit-identical to the unfused expressions (same double arithmetic,
    # same order) while each split/filter runs exactly once.
    d = d.select(
        "doc_id", t, tokens(t).alias("__tk"), tokens(F.lower(t)).alias("__tkl")
    )
    n = F.size("__tk").cast("long")
    stop_arr = F.array(*[F.lit(m) for m in TA.STOPWORDS])
    hits = F.size(
        F.filter(F.col("__tkl"), lambda x: F.array_contains(stop_arr, x))
    ).cast("long")
    d = d.select(
        "doc_id",
        F.when(n > 0, hits.cast("double") / n.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("stopword_ratio"),
        TA.punct_ratio(F.col("text")).alias("punct_ratio"),
        n.alias("__n_tokens"),
    )
    return d.select(
        "doc_id",
        "stopword_ratio",
        "punct_ratio",
        (
            F.lit(0.5) * F.least(F.col("stopword_ratio") * 4, F.lit(1.0))
            + F.lit(0.3)
            * F.least(F.col("__n_tokens").cast("double") / F.lit(100.0), F.lit(1.0))
            + F.lit(0.2) * (F.lit(1.0) - F.least(F.col("punct_ratio") * 10, F.lit(1.0)))
        ).alias("quality_score"),
    )


@register(
    "doc_lang_id",
    f"""
    SELECT doc_id, {TA.sql_predict_lang('text')} AS predicted_lang, lang AS labeled_lang,
           {TA.sql_marker_hits('text', TA.LANG_MARKERS['en'])} AS en_hits
    FROM documents
    """,
    survey_ids=(),
    doc="Language ID via marker-stopword heuristic (deterministic argmax).",
)
def q_doc_lang_id(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    # Fused variant of predict_lang: the unfused expression re-splits
    # lower(text) ~9 times (4 marker lists x 2 references + en_hits).
    # Materialize the lowered token array once, score each language as
    # a named column, then argmax over the columns — identical values,
    # one split + 4 filters per row.
    d = d.select("doc_id", t, "lang", tokens(F.lower(t)).alias("__tkl"))
    def _hits(markers):
        # arity matters: F.filter treats a 2-arg lambda as (element,
        # index), so the marker array must be closure-captured.
        arr = F.array(*[F.lit(m) for m in markers])
        return F.size(F.filter(F.col("__tkl"), lambda x: F.array_contains(arr, x)))

    score_cols = {
        lang_key: _hits(markers).cast("long")
        for lang_key, markers in TA.LANG_MARKERS.items()
    }
    d = d.select(
        "doc_id",
        F.col("text"),
        "lang",
        *[c.alias(f"__s_{k}") for k, c in score_cols.items()],
    )
    s = {k: F.col(f"__s_{k}") for k in TA.LANG_MARKERS}
    best = F.greatest(*s.values())
    expr = F.when(F.col("text").rlike(TA.CJK_PATTERN), F.lit("zh")).when(
        best == 0, F.lit("und")
    )
    for lang_key in ("en", "de", "es", "fr"):
        expr = expr.when(s[lang_key] == best, F.lit(lang_key))
    return d.select(
        "doc_id",
        expr.alias("predicted_lang"),
        F.col("lang").alias("labeled_lang"),
        s["en"].alias("en_hits"),
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


_PACK_BUDGET = 2048  # tokens per pack
_PACK_SHARD = 128  # docs per prefix-sum shard


@register(
    "sequence_packing",
    f"""
    WITH toks AS (
        SELECT doc_id,
               (length(text) - length(replace(text, ' ', '')) + 1)::BIGINT
                   AS n_tokens
        FROM documents
    ), cum AS (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens
                   AS global_start
        FROM toks
    )
    SELECT doc_id, n_tokens, global_start,
           (global_start // {_PACK_BUDGET})::BIGINT AS pack_id
    FROM cum
    """,
    survey_ids=("W1", "A1"),
    doc="LLM sequence packing (concat-then-chunk): documents are laid "
    "end-to-end in doc_id order and cut into fixed token-budget packs "
    "— each doc's global token offset decides its pack.  The global "
    "running sum is a DISTRIBUTED PREFIX SUM, not a single-partition "
    "window: per-shard subtotals (tiny: one row per {_PACK_SHARD} "
    "docs) are cumulated and joined back, so each row's offset = "
    "shard offset + within-shard cumsum.  Two keyed shuffles on "
    "shard, no global sort of the corpus — the oracle's "
    "ORDER BY-everything window is exactly what does NOT scale.",
)
def q_sequence_packing(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    # toks feeds both the within-shard window and the shard totals.
    # Un-cached (round-13 A/B: cached 1.41 s vs 1.29 s without at
    # sf0.1, checksum-identical): recomputing two cheap length
    # projections streams from the pruned scan twice, while the cache
    # builds a corpus-rows InMemoryRelation first — the wrong trade at
    # any scale (guide §5: cache only when recompute beats the memory
    # pressure).
    toks = docs.select(
        "doc_id",
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            + 1
        )
        .cast("long")
        .alias("n_tokens"),
        F.expr(f"doc_id div {_PACK_SHARD}").alias("shard"),
    )
    # Within-shard running sum (shard-keyed window: bounded partitions).
    w_in = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = toks.withColumn("in_cum", F.sum("n_tokens").over(w_in))
    # Shard subtotals are one row per shard — cumulating THEM with a
    # global window is O(n_shards), then the offsets broadcast-join back.
    totals = toks.groupBy("shard").agg(F.sum("n_tokens").alias("shard_total"))
    # bounded-frame: one row per pack shard
    w_sh = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "shard", F.coalesce(F.sum("shard_total").over(w_sh), F.lit(0)).alias("shard_off")
    )
    return (
        within.join(F.broadcast(offsets), "shard")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("shard_off") + F.col("in_cum") - F.col("n_tokens")).alias(
                "global_start"
            ),
        )
        .withColumn(
            "pack_id", F.floor(F.col("global_start") / _PACK_BUDGET).cast("long")
        )
    )


@register(
    "dataset_split",
    f"""
    WITH assigned AS (
        SELECT user_id, event_type,
               CASE WHEN {md5_long_sql("'split:' || CAST(user_id AS VARCHAR)")} % 100 < 80
                    THEN 'train'
                    WHEN {md5_long_sql("'split:' || CAST(user_id AS VARCHAR)")} % 100 < 90
                    THEN 'val' ELSE 'test' END AS split
        FROM events
    )
    SELECT split, count(*)::BIGINT AS n_events,
           count(DISTINCT user_id)::BIGINT AS n_users
    FROM assigned GROUP BY split
    """,
    survey_ids=("A1", "G5"),
    doc="Deterministic train/val/test split keyed on the USER, not the "
    "row: every event of a user lands in the same split (the "
    "group-aware discipline that prevents leakage between train and "
    "eval), via an md5 hash threshold — RNG-free, so re-runs and "
    "retries assign identically, and adding data never reassigns "
    "existing users.  80/10/10; per-split event and user counts "
    "verify the assignment.",
)
def q_dataset_split(spark, sf_dir):
    from ..functions import md5_long as _md5

    ev = load(spark, sf_dir, "events")
    bucket = _md5(F.concat(F.lit("split:"), F.col("user_id").cast("string"))) % 100
    assigned = ev.select(
        "user_id",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias(
            "split"
        ),
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


_CHUNK_LEN = 256  # chars per chunk
_CHUNK_STRIDE = 192  # stride < len => 64-char overlap


@register(
    "doc_chunking",
    f"""
    WITH spans AS (
        SELECT doc_id, n_chars,
               unnest(range(0, greatest(n_chars - {_CHUNK_LEN} + {_CHUNK_STRIDE},
                                        1)::BIGINT, {_CHUNK_STRIDE})) AS off
        FROM (SELECT doc_id, length(text) AS n_chars FROM documents)
    )
    SELECT s.doc_id, (s.off // {_CHUNK_STRIDE})::BIGINT AS chunk_idx,
           substr(d.text, (s.off + 1)::INTEGER, {_CHUNK_LEN}) AS chunk,
           length(substr(d.text, (s.off + 1)::INTEGER, {_CHUNK_LEN}))::BIGINT
               AS chunk_len
    FROM spans s JOIN documents d ON s.doc_id = d.doc_id
    """,
    survey_ids=("T4", "G2"),
    doc=f"Overlapping document chunking ({_CHUNK_LEN}-char windows, "
    f"{_CHUNK_STRIDE}-char stride = {_CHUNK_LEN - _CHUNK_STRIDE} chars "
    "of overlap): the RAG/pretraining prep step that turns long "
    "documents into model-sized passages without losing sentences at "
    "the boundaries.  Pure per-row explode(sequence) + substring — no "
    "shuffle at all; chunk count scales with document length over "
    "stride, never with corpus size, and the explode is the same "
    "bounded-sequence pattern as the electricity minute grid (T4).  "
    "Every document yields at least one chunk (empty docs included), "
    "so the chunker is total — no silent drops.",
)
def q_doc_chunking(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    spans = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.length("text") - F.lit(_CHUNK_LEN) + F.lit(_CHUNK_STRIDE) - 1,
                    F.lit(0),
                ),
                F.lit(_CHUNK_STRIDE),
            )
        ).alias("off"),
    )
    return spans.select(
        "doc_id",
        F.expr(f"off div {_CHUNK_STRIDE}").alias("chunk_idx"),
        F.expr(f"substring(text, off + 1, {_CHUNK_LEN})").alias("chunk"),
        F.length(F.expr(f"substring(text, off + 1, {_CHUNK_LEN})"))
        .cast("long")
        .alias("chunk_len"),
    )


# ===========================================================================
# Mixture rebalancing (sample sources toward target proportions)
# ===========================================================================

# Target mixture: cap every source at the share of the SMALLEST
# source (uniform mixture), the common pretraining rebalance.  The
# acceptance rate per source derives from observed counts, and the
# per-row accept decision is an md5 threshold — deterministic,
# append-stable, engine-portable.


@register(
    "source_rebalance",
    f"""
    WITH counts AS (
        SELECT source, count(*)::BIGINT AS n FROM documents GROUP BY source
    ), target AS (
        SELECT min(n) AS per_source FROM counts
    ), decided AS (
        SELECT d.source,
               ({md5_long_sql("'mix:' || CAST(d.doc_id AS VARCHAR)")} % 1000000
                < (t.per_source * 1000000) // c.n) AS keep
        FROM documents d
        JOIN counts c ON d.source = c.source
        CROSS JOIN target t
    )
    SELECT source, count(*)::BIGINT AS n_total,
           sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept
    FROM decided GROUP BY source
    """,
    survey_ids=("A1", "G5"),
    doc="Mixture rebalancing: sample each source down toward the "
    "smallest source's share (uniform target mixture) — the "
    "pretraining-mix control knob.  Acceptance rate per source = "
    "target/observed in exact integer arithmetic (parts-per-million "
    "threshold); the per-row decision hashes the doc id, so the "
    "sample is deterministic, append-stable, and identical across "
    "engines and retries.  Plan: one tiny counts aggregate broadcast "
    "back to the corpus — the corpus itself never shuffles.  "
    "(Output is the per-source kept/total audit; the kept ROWS are "
    "the same frame without the final aggregate.)",
)
def q_source_rebalance(spark, sf_dir):
    from ..caching import track_cache
    from ..functions import md5_long

    docs = load(spark, sf_dir, "documents")
    counts = track_cache(
        docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    )
    target = counts.agg(F.min("n").alias("per_source"))
    decided = (
        docs.join(F.broadcast(counts), "source")
        .crossJoin(F.broadcast(target))
        .select(
            "source",
            (
                md5_long(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
                % 1_000_000
                < F.expr("(per_source * 1000000) div n")
            ).alias("keep"),
        )
    )
    return decided.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
    )


@register(
    "pretraining_prep",
    f"""
    WITH gated AS (
        SELECT doc_id, text FROM documents
        WHERE lang = 'en' AND length(text) >= 64
    ), keeper AS (
        SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)
    ), survivors AS (
        SELECT g.doc_id, g.text FROM gated g JOIN keeper k ON g.doc_id = k.doc_id
    ), chunks AS (
        SELECT s.doc_id,
               length(substr(s.text, (off + 1)::INTEGER, {_CHUNK_LEN}))::BIGINT
                   AS chunk_len
        FROM survivors s,
             unnest(range(0, greatest(length(s.text) - {_CHUNK_LEN}
                                      + {_CHUNK_STRIDE}, 1)::BIGINT,
                          {_CHUNK_STRIDE})) AS t(off)
    ), assigned AS (
        SELECT doc_id, chunk_len,
               CASE WHEN {md5_long_sql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 80
                    THEN 'train'
                    WHEN {md5_long_sql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 90
                    THEN 'val' ELSE 'test' END AS split
        FROM chunks
    )
    SELECT split, count(DISTINCT doc_id)::BIGINT AS n_docs,
           count(*)::BIGINT AS n_chunks,
           sum(chunk_len)::BIGINT AS sum_chunk_chars
    FROM assigned GROUP BY split
    """,
    survey_ids=("A6", "A7", "T4", "A1"),
    doc="The end-to-end pretraining-prep pipeline as ONE lazy plan: "
    "quality gate (language + length) -> exact dedup (min doc per "
    "text hash) -> overlapping chunking -> doc-keyed train/val/test "
    "split -> per-split audit counts.  Composition is the point: "
    "each stage is an operator the catalog verifies in isolation "
    "(doc_quality, exact_dedup, doc_chunking, dataset_split), and "
    "chaining them stays a single Catalyst plan — the gate's filter "
    "pushes below the dedup aggregate, the chunk explode runs on "
    "survivors only, and the split needs no shuffle at all.  Two "
    "keyed shuffles end to end (dedup hash, final audit), however "
    "long the pipeline reads.",
)
def q_pretraining_prep(spark, sf_dir):
    from ..functions import md5_long

    docs = load(spark, sf_dir, "documents")
    gated = docs.filter(
        (F.col("lang") == "en") & (F.length("text") >= 64)
    ).select("doc_id", "text")
    keeper = gated.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    survivors = gated.join(keeper.select("doc_id"), "doc_id")
    chunks = survivors.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.length("text") - F.lit(_CHUNK_LEN) + F.lit(_CHUNK_STRIDE) - 1,
                    F.lit(0),
                ),
                F.lit(_CHUNK_STRIDE),
            )
        ).alias("off"),
        "text",
    ).select(
        "doc_id",
        F.length(F.expr(f"substring(text, off + 1, {_CHUNK_LEN})"))
        .cast("long")
        .alias("chunk_len"),
    )
    bucket = md5_long(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    assigned = chunks.select(
        "doc_id",
        "chunk_len",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias(
            "split"
        ),
    )
    return assigned.groupBy("split").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("chunk_len").alias("sum_chunk_chars"),
    )


@register(
    "doc_provenance",
    """
    SELECT doc_id, 'documents.parquet' AS src_file FROM documents
    """,
    survey_ids=("S5", "G3", "O4"),
    doc="Row provenance / lineage: every row tagged with its source "
    "file basename via input_file_name() — the filename-keyed "
    "attribution the reference's sensor pipeline builds by hand from "
    "globs (utils/20251223-csv-to-separate-sensors.py), as a zero-"
    "cost scan-metadata column.  At 100 TB this is the debugging "
    "handle for bad-file quarantine (join provenance against a "
    "known-bad list, rewrite only those files).  The oracle states "
    "the expected basename from the known single-file layout (the "
    "oracle SQL cannot be parameterized by path), so the check "
    "verifies the extraction per row, not the listing.",
)
def q_doc_provenance(spark, sf_dir):
    # widen=False is CORRECTNESS here, not tuning: input_file_name()
    # only resolves inside the scan stage — after a repartition
    # exchange it returns '' for every row.
    d = load(spark, sf_dir, "documents", widen=False)
    return d.select(
        "doc_id",
        F.regexp_extract(F.input_file_name(), "[^/]+$", 0).alias("src_file"),
    )


_TOK = sql_tokens("text")


@register(
    "doc_repetition",
    f"""
    WITH tk AS (
        SELECT doc_id, {_TOK} AS tok FROM documents
    ), bg AS (
        SELECT doc_id, tok, {PT.sql_bigrams('tok')} AS bgs FROM tk
    )
    SELECT doc_id,
           len(tok)::BIGINT AS n_tokens,
           CASE WHEN len(tok) > 0
                THEN {PT.sql_top_token_count('tok')}::DOUBLE / len(tok)::DOUBLE
                ELSE 0.0 END AS top_token_frac,
           CASE WHEN len(bgs) > 0
                THEN 1.0 - len(list_distinct(bgs))::DOUBLE / len(bgs)::DOUBLE
                ELSE 0.0 END AS dup_bigram_frac
    FROM bg
    """,
    survey_ids=(),
    doc="Gopher-style repetition signals: top-token fraction and "
    "duplicate-bigram fraction, per-row (no shuffle).",
)
def q_doc_repetition(spark, sf_dir):
    return PT.repetition_metrics(load(spark, sf_dir, "documents"))


@register(
    "boilerplate_ngrams",
    f"""
    WITH tg AS (
        SELECT doc_id, unnest(list_distinct({PT.sql_trigrams(_TOK)})) AS ngram
        FROM documents
    )
    SELECT ngram, count(*)::BIGINT AS n_docs
    FROM tg GROUP BY ngram
    ORDER BY n_docs DESC, ngram LIMIT 20
    """,
    survey_ids=(),
    doc="Corpus-wide boilerplate trigrams ranked by distinct-document "
    "frequency; explode -> partial agg -> TakeOrderedAndProject.",
)
def q_boilerplate_ngrams(spark, sf_dir):
    return PT.boilerplate_ngrams(load(spark, sf_dir, "documents"))


@register(
    "contamination_overlap",
    f"""
    WITH base AS (
        SELECT doc_id, list_distinct({PT.sql_trigrams(_TOK)}) AS tg
        FROM documents
    ), bench AS (
        SELECT DISTINCT unnest(tg) AS ngram FROM base WHERE doc_id % 53 = 0
    ), corpus AS (
        SELECT doc_id, tg FROM base WHERE doc_id % 53 <> 0
    ), hits AS (
        SELECT c.doc_id, count(*)::BIGINT AS n_contaminated
        FROM (SELECT doc_id, unnest(tg) AS ngram FROM corpus) c
        JOIN bench b USING (ngram)
        GROUP BY c.doc_id
    )
    SELECT corpus.doc_id,
           len(corpus.tg)::BIGINT AS n_ngrams,
           coalesce(hits.n_contaminated, 0)::BIGINT AS n_contaminated,
           CASE WHEN len(corpus.tg) > 0
                THEN coalesce(hits.n_contaminated, 0)::DOUBLE
                     / len(corpus.tg)::DOUBLE
                ELSE 0.0 END AS contaminated_frac
    FROM corpus LEFT JOIN hits ON corpus.doc_id = hits.doc_id
    """,
    survey_ids=(),
    doc="Benchmark-contamination screen: corpus trigrams vs broadcast "
    "benchmark trigram set; corpus side never shuffles on volume.",
)
def q_contamination_overlap(spark, sf_dir):
    return PT.contamination_overlap(load(spark, sf_dir, "documents"))


def _pii_oracle() -> str:
    s = PT.sql_redact_pii("text")
    return f"""
    SELECT doc_id,
           {s['email']} AS n_email,
           {s['phone']} AS n_phone,
           {s['ipv4']} AS n_ipv4,
           {s['clean']} AS clean_text
    FROM documents
    """


@register(
    "pii_redact",
    _pii_oracle(),
    survey_ids=(),
    doc="PII redaction: count + replace emails/phones/IPv4 with typed "
    "placeholders; per-row regexes restricted to Java/RE2-identical "
    "syntax (no lookaround/backrefs).",
)
def q_pii_redact(spark, sf_dir):
    out = PT.redact_pii(load(spark, sf_dir, "documents"))
    return out.select("doc_id", "n_email", "n_phone", "n_ipv4", "clean_text")


@register(
    "corpus_curation",
    PT.sql_curate_corpus(),
    survey_ids=("A6", "A7", "P5", "G1"),
    doc="The end-to-end pretraining-data curation pass: quality gate "
    "-> exact dedup (normalized md5, keep-min) -> reorder-robust "
    "dedup (sorted-token-bag md5) -> repetition gate -> PII "
    "redaction.  Composed from the module's operators with a "
    "stage-by-stage SQL twin; two keyed min-aggregations are the "
    "whole shuffle budget (operators/pipeline_text.py:curate_corpus).",
)
def q_corpus_curation(spark, sf_dir):
    return PT.curate_corpus(load(spark, sf_dir, "documents"))


@register(
    "salient_terms",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOK}) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*)::BIGINT AS tf
        FROM toks GROUP BY doc_id, term
    ), docfreq AS (
        SELECT term, count(*)::BIGINT AS df
        FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term
    )
    SELECT doc_id, term, tf, df, rank FROM (
        SELECT tf.doc_id, tf.term, tf.tf, docfreq.df,
               row_number() OVER (PARTITION BY tf.doc_id
                                  ORDER BY tf.tf DESC, docfreq.df ASC,
                                           tf.term ASC) AS rank
        FROM tf JOIN docfreq USING (term)
    ) WHERE rank <= 3
    """,
    survey_ids=(),
    doc="Per-document top-3 salient terms: integer-only TF-IDF "
    "surrogate (tf desc, rarity asc, term asc) — hash-stable, no "
    "float log in the ranking.",
)
def q_salient_terms(spark, sf_dir):
    # widen=False: the plan's cost sits in the post-explode tf/idf
    # joins, not the scan stage — measured x0.53 WITH the widen
    # exchange at sf0.1 (0.71 -> 1.35 s), so keep the serial scan.
    return PT.salient_terms(load(spark, sf_dir, "documents", widen=False))
