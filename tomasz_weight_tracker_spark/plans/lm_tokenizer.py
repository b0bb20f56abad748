"""LM and tokenizer catalog queries: regex tokens and n-grams, BPE
training and segmentation, the bigram-LM filter, perceptron classifiers
and DSIR weights.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import Window

from ..operators.bpe import bpe_train, sql_bpe_chain, sql_bpe_segments
from ..operators.lm import (
    sql_dsir_weights,
    sql_lm_chain,
    sql_lm_score,
    sql_perceptron_apply,
    sql_perceptron_chain,
)

from .catalog import lm_broadcast_model, load, register


# ===========================================================================
# Distributed BPE tokenizer-vocabulary training (fixed 8 merge rounds)
# ===========================================================================

_BPE_ROUNDS = 8

_BPE_WORDS_CTE = """
    SELECT lower(w) AS word, count(*)::BIGINT AS freq
    FROM documents, unnest(string_split_regex(text, '\\s+')) AS u(w)
    WHERE regexp_full_match(w, '[A-Za-z]+') AND len(w) BETWEEN 2 AND 20
    GROUP BY 1
"""


@register(
    "bpe_vocab_train",
    sql_bpe_chain(_BPE_WORDS_CTE, _BPE_ROUNDS),
    survey_ids=("A1", "G2"),
    doc=f"Distributed tokenizer-vocabulary training: {_BPE_ROUNDS} rounds "
    "of byte-pair-encoding merge learning over the documents corpus "
    "(operators/bpe.py — the vocab-LEARNING step that the catalog's "
    "pre-tokenization / chunking / packing operators feed).  The "
    "corpus is touched once (whitespace tokenize, alpha-word filter, "
    "one word-frequency aggregation); after that every round runs on "
    "the VOCABULARY-bounded symbol state (|vocab| x word_len rows "
    "however large the corpus), with a per-round shuffle budget of "
    "one pair-count aggregation + one word-key exchange reused by all "
    "of the round's windows, and a single 1-row driver action for the "
    "deterministic arg-max (integer counts, (left,right) tie-break — "
    "the pagerank/ivf_train fixed-iteration pattern, RNG-free).  "
    "Greedy left-to-right merge application is a parallel "
    "run-alternation window, not a Python loop.  The oracle replays "
    "the identical training as an unrolled DuckDB CTE chain "
    "(operators/bpe.py:sql_bpe_chain), so the learned merge table is "
    "value-hash exact.",
)
def q_bpe_vocab_train(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", r"\s+")).alias("w"))
        .filter(F.col("w").rlike("^[A-Za-z]+$") & F.length("w").between(2, 20))
        .groupBy(F.lower("w").alias("word"))
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    return bpe_train(spark, words, _BPE_ROUNDS)


@register(
    "bpe_segment_words",
    sql_bpe_segments(_BPE_WORDS_CTE, _BPE_ROUNDS),
    survey_ids=("A1", "G2"),
    doc="The learned tokenizer APPLIED: after the same "
    f"{_BPE_ROUNDS}-round training as bpe_vocab_train, the final "
    "symbol state is collapsed into per-word segmentations (word, "
    "freq, n_tokens, 'seg men ted') — training and application in "
    "one pass, since the post-merge state IS the tokenization of the "
    "vocabulary (operators/bpe.py:segment_words).  One extra keyed "
    "aggregation over the vocabulary-bounded state, sorted-collect "
    "bounded per word by its own symbol count.  The oracle extends "
    "the training CTE chain with the identical final grouping, so "
    "every word's full token sequence is value-hash checked — a far "
    "stronger check of the merge application than the 8-row merge "
    "table alone.",
)
def q_bpe_segment_words(spark, sf_dir):
    from ..operators.bpe import bpe_train_full, segment_words

    docs = load(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", r"\s+")).alias("w"))
        .filter(F.col("w").rlike("^[A-Za-z]+$") & F.length("w").between(2, 20))
        .groupBy(F.lower("w").alias("word"))
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    _, state = bpe_train_full(spark, words, _BPE_ROUNDS)
    return segment_words(state)


# ===========================================================================
# Bigram-LM quality filtering + perceptron classifier training (round 7b)
# ===========================================================================

_PERCEPTRON_ROUNDS = 8


@register(
    "ngram_lm_score",
    sql_lm_score(),
    survey_ids=("A1", "G2"),
    doc="CCNet-style statistical LM filtering (Wenzek et al. 2020, "
    "public): an add-1-smoothed bigram model trained on the "
    "doc_id%5==0 reference split scores every held-out document, and "
    "a fixed threshold drives the keep/drop decision.  ln() is not "
    "bit-portable (BM25's rational-idf reasoning), so the score is "
    "the mean smoothed bigram likelihood in pure BIGINT e9 "
    "quantization — monotone in the model probability, bit-exact in "
    "both engines (operators/lm.py:lm_score, int64 bound documented "
    "there).  Scale: the reference split collapses to "
    "vocabulary-bounded unigram/bigram count tables (one aggregation "
    "each); scoring is explode -> broadcast unigram lookup + keyed "
    "bigram join (build side unique per key, so AQE's skew split "
    "absorbs the Zipf head) -> one per-doc aggregation.",
)
def q_ngram_lm_score(spark, sf_dir):
    from ..operators.lm import lm_score

    # widen=False: lm_score is dominated by the model-join tail, not
    # per-row scan work — measured x0.59 with the widen exchange at
    # sf0.1 (0.75 -> 1.26 s).  The model-join tail itself is size-gated
    # (round 13): below 16 MiB of documents the bigram table broadcasts
    # (drops the exchange of the exploded held-out corpus); above it
    # the keyed join + AQE skew split is the 100 TB shape.
    return lm_score(
        load(spark, sf_dir, "documents", widen=False),
        broadcast_bigrams=lm_broadcast_model(sf_dir),
    )


@register(
    "perceptron_quality_train",
    sql_perceptron_chain(_PERCEPTRON_ROUNDS),
    survey_ids=("A1", "A2"),
    doc="Distributed quality-classifier TRAINING (the fastText-style "
    "filter distilled from heuristic labels, Joulin et al. 2017): a "
    f"batch perceptron with geometric step decay, {_PERCEPTRON_ROUNDS} "
    "fixed rounds over md5-hashed token-bucket count features with a "
    "stopword-ratio label (operators/lm.py:perceptron_train).  "
    "All-integer updates + a portable floor division make the learned "
    "weight trajectory deterministic and exactly replayable: the "
    "oracle unrolls the identical rounds as a MATERIALIZED DuckDB CTE "
    "chain (the bpe/ivf_train fixed-iteration pattern) and the "
    "value-hash covers every (round, feature, weight, errors) row — "
    "training converges 500 -> 114 errors on sf0.01 vs a 241-error "
    "majority baseline.  Scale: one corpus scan builds the dense "
    "(B+1)-integer feature row per doc (no shuffle, localCheckpoint); "
    "each round is one scan + one tree-aggregate with the O(B) weight "
    "vector inlined as literals — broadcast-the-model / "
    "aggregate-the-gradient with no parameter exchange.",
)
def q_perceptron_quality_train(spark, sf_dir):
    from ..operators.lm import perceptron_train

    return perceptron_train(spark, load(spark, sf_dir, "documents"), _PERCEPTRON_ROUNDS)


@register(
    "dsir_importance_weights",
    sql_dsir_weights(),
    survey_ids=("A1", "A2"),
    doc="DSIR-style data selection (Xie et al. 2023, public): hashed "
    "unigram-bucket distributions estimated on the target split vs "
    "the raw corpus, every raw document weighted by its tokens' "
    "add-1-smoothed target/raw likelihood ratios, top-K selected.  "
    "The linear-domain estimator (mean per-token ratio, e6-quantized "
    "BIGINT — operators/lm.py:dsir_weights, int64 bound documented) "
    "replaces DSIR's log-space sum because ln() is not bit-portable.  "
    "Scale: two B-bounded bucket aggregations (map-side combined), "
    "then scoring is a BROADCAST of the 256-row ratio table onto the "
    "token stream — the corpus never shuffles on volume; selection is "
    "TakeOrderedAndProject top-K + a broadcast rank join, NOT a "
    "global row_number window over the per-doc relation.",
)
def q_dsir_importance_weights(spark, sf_dir):
    from ..operators.lm import dsir_weights

    return dsir_weights(load(spark, sf_dir, "documents"))


@register(
    "perceptron_quality_apply",
    sql_perceptron_apply(_PERCEPTRON_ROUNDS),
    survey_ids=("A1", "A2"),
    doc="The learned quality classifier APPLIED: after the same "
    f"{_PERCEPTRON_ROUNDS}-round training as perceptron_quality_train "
    "(deterministic, so train+apply in one query is exact), every "
    "document gets its dot product against the final weights, the "
    "sign prediction, and a correctness flag vs the heuristic label "
    "— per-document, so the value hash covers all 500 dot products, "
    "not just a summary (the bpe_segment_words / token_budget_mix_"
    "apply symmetry: every LEARNING operator has its application "
    "under the gate).  386/500 correct on sf0.01 — consistent with "
    "the training trajectory's final 114 errors.  Scale: inference "
    "is one zero-shuffle scan of the checkpointed feature table with "
    "the O(B) model inlined as literals.",
)
def q_perceptron_quality_apply(spark, sf_dir):
    from ..operators.lm import perceptron_apply

    return perceptron_apply(
        load(spark, sf_dir, "documents"), _PERCEPTRON_ROUNDS
    )


@register(
    "lm_score_calibrated",
    sql_lm_chain()
    + """,
    base AS (SELECT doc_id, n_bigrams, (s // n_bigrams)::BIGINT AS lm_score_e9
             FROM agg),
    src AS (SELECT b.doc_id, d.source, b.n_bigrams, b.lm_score_e9
            FROM base b JOIN documents d USING (doc_id)),
    rk AS (SELECT *,
                  row_number() OVER (PARTITION BY source
                                     ORDER BY lm_score_e9, doc_id) AS rn,
                  count(*) OVER (PARTITION BY source) AS n
           FROM src),
    thr AS (SELECT source,
                   min(CASE WHEN rn = (n + 1) // 2 THEN lm_score_e9 END)::BIGINT
                       AS src_median_e9
            FROM rk GROUP BY source)
    SELECT rk.doc_id, rk.source, rk.n_bigrams, rk.lm_score_e9,
           thr.src_median_e9,
           rk.lm_score_e9 >= thr.src_median_e9 AS kept_cal
    FROM rk JOIN thr USING (source)
    """,
    survey_ids=("A1", "W1"),
    doc="Per-DOMAIN calibrated LM filtering — the CCNet detail the "
    "global threshold misses: bucket boundaries are computed per "
    "domain (here per source), so a systematically low-likelihood "
    "domain is not wholesale dropped by a corpus-global cut.  The "
    "boundary is the exact integer LOWER MEDIAN of each source's "
    "scores (k = (n+1) div 2-th order statistic via one per-source "
    "row_number — deterministic (score, doc_id) order, no "
    "interpolated float median), broadcast back as an S-row "
    "threshold table.  Scale: the scoring plan is ngram_lm_score's; "
    "calibration adds one source-partitioned window over the "
    "per-doc relation and one broadcast join.",
)
def q_lm_score_calibrated(spark, sf_dir):
    from ..operators.lm import lm_score

    docs = load(spark, sf_dir, "documents")
    scored = lm_score(
        docs, broadcast_bigrams=lm_broadcast_model(sf_dir)
    ).drop("kept").join(docs.select("doc_id", "source"), "doc_id")
    w = Window.partitionBy("source").orderBy("lm_score_e9", "doc_id")
    rk = scored.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("source"))
    )
    thr = rk.groupBy("source").agg(
        F.min(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("lm_score_e9"))
        )
        .cast("long")
        .alias("src_median_e9")
    )
    return (
        rk.join(F.broadcast(thr), "source")
        .select(
            "doc_id",
            "source",
            "n_bigrams",
            "lm_score_e9",
            "src_median_e9",
            (F.col("lm_score_e9") >= F.col("src_median_e9")).alias("kept_cal"),
        )
    )


# ===========================================================================
# Sparse quality-classifier training (long-form features, B = 4096)
# ===========================================================================

_SPARSE_ROUNDS = 6


def _sparse_chain_oracle() -> str:
    from ..operators.lm import SPARSE_BUCKETS

    return sql_perceptron_chain(_SPARSE_ROUNDS, n_buckets=SPARSE_BUCKETS)


@register(
    "perceptron_sparse_train",
    _sparse_chain_oracle(),
    survey_ids=("A1", "A2"),
    doc="The quality classifier trained over LONG-FORM sparse features "
    "at B=4096 hashed buckets (operators/lm.py:perceptron_train_sparse "
    "— the round-7 verdict's scale-ceiling fix): features live as "
    "(doc_id, feature, count) rows, the model reaches the data as a "
    "broadcast of the non-zero weight rows, each round is one "
    "doc-partitioned scan (dot + misclassified set reuse the single "
    "checkpoint exchange) plus one feature-keyed exchange of the "
    "misclassified subset, and the bias row doubles as the error "
    "counter — so feature-space width appears NOWHERE in the plan "
    "and B=1e5 is the same program.  Same integer trajectory "
    "semantics as perceptron_quality_train (label, md5 bucketing, "
    "geometric step decay, portable floor division), verified by the "
    "SAME unrolled-CTE oracle with n_buckets swapped to 4096 — the "
    "oracle was long-form from day one.",
)
def q_perceptron_sparse_train(spark, sf_dir):
    from ..operators.lm import SPARSE_BUCKETS, perceptron_train_sparse

    return perceptron_train_sparse(
        spark,
        load(spark, sf_dir, "documents"),
        _SPARSE_ROUNDS,
        n_buckets=SPARSE_BUCKETS,
    )


# ===========================================================================
# Corpus-wide BPE token accounting (per-source, vocabulary-bounded)
# ===========================================================================


def _bpe_tokens_oracle() -> str:
    from ..operators.bpe import sql_bpe_segments_cte

    return (
        sql_bpe_segments_cte(_BPE_WORDS_CTE, _BPE_ROUNDS)
        + """, inst AS (
        SELECT d.source, lower(u.w) AS word
        FROM documents d, unnest(string_split_regex(d.text, '\\s+')) AS u(w)
        WHERE regexp_full_match(u.w, '[A-Za-z]+') AND len(u.w) BETWEEN 2 AND 20
    ), nd AS (
        SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source
    )
    SELECT nd.source, nd.n_docs,
           count(*)::BIGINT AS n_words,
           sum(len(inst.word))::BIGINT AS n_chars,
           sum(seg.n_tokens)::BIGINT AS bpe_tokens,
           (sum(len(inst.word)) * 1000000 // sum(seg.n_tokens))::BIGINT
               AS chars_per_token_ppm
    FROM inst JOIN seg USING (word) JOIN nd USING (source)
    GROUP BY nd.source, nd.n_docs"""
    )


@register(
    "bpe_corpus_tokens",
    _bpe_tokens_oracle(),
    survey_ids=("A1", "G2"),
    doc="The learned BPE tokenizer applied CORPUS-WIDE: after the same "
    "training as bpe_vocab_train, per-source documents are accounted "
    "in LEARNED tokens — the denominator a token budget "
    "(token_budget_mix) actually runs in, where whitespace counts "
    "are only a proxy.  Scale shape: the corpus explodes to word "
    "instances ONCE, but the BPE state machine only ever sees the "
    "DISTINCT vocabulary (segment each word once — "
    "operators/bpe.py:segment_words, vocabulary-bounded) and the "
    "per-word token count broadcasts back onto instances, so corpus "
    "volume never enters the iterative merge rounds.  Reports docs, "
    "qualifying word instances, characters, BPE tokens, and the "
    "compression ratio as a ppm integer per source.  Word qualifier "
    "([A-Za-z]{2,20}) matches the training filter, so accounting "
    "and vocabulary cannot drift.",
)
def q_bpe_corpus_tokens(spark, sf_dir):
    from ..operators.bpe import bpe_train_full, segment_words

    docs = load(spark, sf_dir, "documents")
    inst = docs.select(
        "source", F.explode(F.split("text", r"\s+")).alias("w")
    ).filter(F.col("w").rlike("^[A-Za-z]+$") & F.length("w").between(2, 20))
    words = inst.groupBy(F.lower("w").alias("word")).agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    )
    _, state = bpe_train_full(spark, words, _BPE_ROUNDS)
    seg = segment_words(state).select("word", "n_tokens")
    nd = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        inst.select("source", F.lower("w").alias("word"))
        .join(F.broadcast(seg), "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.length("word")).cast("long").alias("n_chars"),
            F.sum("n_tokens").cast("long").alias("bpe_tokens"),
        )
        .join(F.broadcast(nd), "source")
        .select(
            "source",
            "n_docs",
            "n_words",
            "n_chars",
            "bpe_tokens",
            F.expr("(n_chars * 1000000) div bpe_tokens")
            .cast("long")
            .alias("chars_per_token_ppm"),
        )
    )


# ===========================================================================
# Tokenizer fertility by language (BPE equity diagnostic)
# ===========================================================================


def _fertility_oracle() -> str:
    from ..operators.bpe import sql_bpe_segments_cte

    return (
        sql_bpe_segments_cte(_BPE_WORDS_CTE, _BPE_ROUNDS)
        + """, inst AS (
        SELECT d.lang, lower(u.w) AS word
        FROM documents d, unnest(string_split_regex(d.text, '\\s+')) AS u(w)
        WHERE regexp_full_match(u.w, '[A-Za-z]+') AND len(u.w) BETWEEN 2 AND 20
    )
    SELECT inst.lang,
           count(*)::BIGINT AS n_words,
           count(DISTINCT inst.word)::BIGINT AS n_distinct_words,
           sum(seg.n_tokens)::BIGINT AS bpe_tokens,
           (sum(seg.n_tokens) * 1000000 // count(*))::BIGINT
               AS fertility_ppm
    FROM inst JOIN seg USING (word)
    GROUP BY inst.lang"""
    )


@register(
    "tokenizer_fertility_by_lang",
    _fertility_oracle(),
    survey_ids=("A1", "G2"),
    doc="Tokenizer FERTILITY (learned BPE tokens per word, ppm) per "
    "document language — the standard tokenizer-equity diagnostic: a "
    "vocabulary trained on the pooled corpus over-segments whichever "
    "language it under-represents, and fertility is the number that "
    "exposes it (the multilingual-tokenizer literature's standard "
    "metric).  Same single corpus-explode + vocabulary-bounded "
    "segmentation + broadcast-back as bpe_corpus_tokens (shared "
    "training words CTE and segment chain on both engines), grouped "
    "by the lang column.",
)
def q_tokenizer_fertility_by_lang(spark, sf_dir):
    from ..operators.bpe import bpe_train_full, segment_words

    docs = load(spark, sf_dir, "documents")
    inst = docs.select(
        "lang", F.explode(F.split("text", r"\s+")).alias("w")
    ).filter(F.col("w").rlike("^[A-Za-z]+$") & F.length("w").between(2, 20))
    words = inst.groupBy(F.lower("w").alias("word")).agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    )
    _, state = bpe_train_full(spark, words, _BPE_ROUNDS)
    seg = segment_words(state).select("word", "n_tokens")
    return (
        inst.select("lang", F.lower("w").alias("word"))
        .join(F.broadcast(seg), "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.countDistinct("word").cast("long").alias("n_distinct_words"),
            F.sum("n_tokens").cast("long").alias("bpe_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_distinct_words",
            "bpe_tokens",
            F.expr("(bpe_tokens * 1000000) div n_words")
            .cast("long")
            .alias("fertility_ppm"),
        )
    )


@register(
    "doc_regex_tokens",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '\w+|[^\w\s]'))::BIGINT AS n_tokens,
           len(regexp_extract_all(text, '\w+'))::BIGINT AS n_words,
           len(list_distinct(regexp_extract_all(lower(text), '\w+')))::BIGINT AS n_distinct_words
    FROM documents
    """,
    survey_ids=("G2",),
    doc="BPE-style pre-tokenization: the GPT-2-ish regex '\\w+|[^\\w\\s]' "
    "splits words from punctuation runs (the step before BPE merges). "
    "Java and RE2 agree on this ASCII pattern class, so counts are "
    "exact across engines.  Per-row, zero shuffle.",
)
def q_doc_regex_tokens(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    full = F.regexp_extract_all(t, F.lit(r"\w+|[^\w\s]"), 0)
    words = F.regexp_extract_all(t, F.lit(r"\w+"), 0)
    lwords = F.regexp_extract_all(F.lower(t), F.lit(r"\w+"), 0)
    return d.select(
        "doc_id",
        F.size(full).cast("long").alias("n_tokens"),
        F.size(words).cast("long").alias("n_words"),
        F.size(F.array_distinct(lwords)).cast("long").alias("n_distinct_words"),
    )


def _trigrams_outer_oracle() -> str:
    from ..operators.pipeline_text import sql_trigrams
    from ..operators.text_analysis import sql_tokens

    tg = sql_trigrams(sql_tokens("text"))
    return f"""
    SELECT d.doc_id, u.ngram
    FROM (
        SELECT doc_id, {tg} AS tg FROM documents WHERE doc_id < 100
    ) d
    LEFT JOIN LATERAL (SELECT unnest(d.tg) AS ngram) u ON true
    """


@register(
    "doc_trigrams_outer",
    _trigrams_outer_oracle(),
    survey_ids=("T4", "P4"),
    doc="explode_outer null-preservation: documents too short for a "
    "trigram keep their row with a NULL ngram (an inner explode would "
    "silently drop them — the off-by-one that breaks per-document "
    "accounting downstream).  Oracle is a LEFT JOIN LATERAL unnest.",
)
def q_doc_trigrams_outer(spark, sf_dir):
    from ..functions import tokens
    from ..operators.pipeline_text import trigram_array

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    d = d.select("doc_id", trigram_array(tokens(F.col("text"))).alias("__tg"))
    return d.select("doc_id", F.explode_outer("__tg").alias("ngram"))
