"""Round-8c: source leakage matrix, tokenizer fertility, Gopher rules."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tomasz_weight_tracker_spark.operators.text_analysis import STOPWORDS
from tomasz_weight_tracker_spark.plans import REGISTRY
from tomasz_weight_tracker_spark.plans.text_curation import (
    GOPHER_ALPHA_PCT,
    GOPHER_MAX_MWL,
    GOPHER_MIN_MWL,
    GOPHER_MIN_STOPWORDS,
    GOPHER_MIN_WORDS,
)


@pytest.fixture
def sf_small(sf_path):
    return sf_path("sf0.001")


class TestSourceLeakageMatrix:
    def test_matrix_accounts_for_every_span(self, spark, sf_small):
        spans = REGISTRY["dup_passage_spans"].build(spark, sf_small).collect()
        matrix = REGISTRY["source_leakage_matrix"].build(spark, sf_small).collect()
        assert sum(r.n_spans for r in matrix) == len(spans)
        assert sum(r.dup_tokens for r in matrix) == sum(s.span_toks for s in spans)
        for r in matrix:
            assert r.n_doc_pairs <= r.n_spans
            assert r.max_span_toks <= r.dup_tokens


class TestTokenizerFertility:
    def test_fertility_bounds(self, spark, sf_small):
        rows = REGISTRY["tokenizer_fertility_by_lang"].build(spark, sf_small).collect()
        assert rows
        for r in rows:
            # At least one token per word; BPE at 8 merges can't beat
            # one token per char either.
            assert r.fertility_ppm >= 1_000_000
            assert r.n_distinct_words <= r.n_words
            assert r.fertility_ppm == r.bpe_tokens * 1_000_000 // r.n_words


class TestGopherRules:
    def test_rules_recomputed_in_python(self, spark, sf_small):
        docs = {
            r["doc_id"]: r["text"]
            for r in spark.read.parquet(f"{sf_small}/documents.parquet")
            .select("doc_id", "text")
            .collect()
        }
        rows = REGISTRY["gopher_quality_rules"].build(spark, sf_small).collect()
        assert len(rows) == len(docs)
        sw = set(STOPWORDS)
        kept = 0
        for r in rows:
            tk = docs[r.doc_id].strip().split()
            n = len(tk)
            assert r.n_words == n
            chars = sum(len(x) for x in tk)
            exp_wc = GOPHER_MIN_WORDS <= n <= 100_000
            exp_mwl = GOPHER_MIN_MWL * n <= chars <= GOPHER_MAX_MWL * n
            exp_sw = (
                len({x.lower() for x in tk if x.lower() in sw})
                >= GOPHER_MIN_STOPWORDS
            )
            n_alpha = sum(1 for x in tk if any(c.isalpha() for c in x))
            exp_al = n_alpha * 100 >= GOPHER_ALPHA_PCT * n
            assert (r.r_word_count, r.r_mean_word_len, r.r_stopwords, r.r_alpha_words) == (
                exp_wc,
                exp_mwl,
                exp_sw,
                exp_al,
            ), r.doc_id
            assert r.keep == (exp_wc and exp_mwl and exp_sw and exp_al)
            kept += r.keep
        # The rules must actually discriminate on this corpus.
        assert 0 < kept < len(rows)
