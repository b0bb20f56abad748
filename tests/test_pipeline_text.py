"""Corpus-curation operators (operators/pipeline_text.py).

Edge cases the parity gate's synthetic corpus doesn't hit: empty and
sub-n-gram documents, overlapping PII matches, repetition extremes,
and salient-term tie-breaking.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tomasz_weight_tracker_spark.operators import pipeline_text as PT


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestRepetition:
    def test_short_docs_zero_not_null(self, spark):
        out = PT.repetition_metrics(
            _docs(spark, [(1, ""), (2, "one"), (3, "one two")])
        ).orderBy("doc_id").collect()
        assert [r.n_tokens for r in out] == [0, 1, 2]
        # no bigrams for docs 1-2 -> frac 0.0, never NULL/NaN
        assert [r.dup_bigram_frac for r in out] == [0.0, 0.0, 0.0]
        assert out[0].top_token_frac == 0.0
        assert out[1].top_token_frac == 1.0

    def test_degenerate_repetition_detected(self, spark):
        out = (
            PT.repetition_metrics(
                _docs(spark, [(1, "spam " * 50 + "spam"), (2, " ".join(f"w{i}" for i in range(51)))])
            )
            .orderBy("doc_id")
            .collect()
        )
        assert out[0].top_token_frac == 1.0
        assert out[0].dup_bigram_frac == pytest.approx(1.0 - 1.0 / 50.0)
        assert out[1].top_token_frac == pytest.approx(1.0 / 51.0)
        assert out[1].dup_bigram_frac == 0.0

    def test_bigram_trigram_arrays(self, spark):
        df = _docs(spark, [(1, "a b c d")]).select(
            PT.bigram_array(F.split("text", " ")).alias("bg"),
            PT.trigram_array(F.split("text", " ")).alias("tg"),
        )
        row = df.first()
        assert row.bg == ["a b", "b c", "c d"]
        assert row.tg == ["a b c", "b c d"]


class TestBoilerplate:
    def test_per_doc_distinct_counts_docs_not_occurrences(self, spark):
        # "x y z" appears 3x in doc 1 but only once in doc 2: n_docs = 2.
        out = PT.boilerplate_ngrams(
            _docs(spark, [(1, "x y z x y z x y z"), (2, "x y z"), (3, "a b c")]),
            top=2,
        ).collect()
        assert out[0].ngram == "x y z" and out[0].n_docs == 2
        assert out[1].n_docs == 1


class TestContamination:
    def test_benchmark_docs_excluded_and_hits_counted(self, spark):
        # doc 0 and 53 are benchmark (doc_id % 53 == 0).
        rows = [
            (0, "alpha beta gamma delta"),
            (53, "one two three"),
            (1, "alpha beta gamma nope"),  # shares 'alpha beta gamma'
            (2, "clean text here totally"),
        ]
        out = {
            r.doc_id: r
            for r in PT.contamination_overlap(_docs(spark, rows)).collect()
        }
        assert set(out) == {1, 2}  # benchmark docs never returned
        assert out[1].n_contaminated == 1
        assert out[1].contaminated_frac == pytest.approx(0.5)
        assert out[2].n_contaminated == 0 and out[2].contaminated_frac == 0.0


class TestPiiRedact:
    def test_all_three_kinds(self, spark):
        text = "mail a.b+c@ex.co.uk or call +44 (0)20 7946 0958, host 10.0.0.1 ok"
        row = PT.redact_pii(_docs(spark, [(1, text)])).first()
        assert row.n_email == 1 and row.n_phone == 1 and row.n_ipv4 == 1
        assert "<EMAIL>" in row.clean_text and "<PHONE>" in row.clean_text
        assert "<IP>" in row.clean_text
        assert "@" not in row.clean_text and "10.0.0.1" not in row.clean_text

    def test_clean_doc_untouched(self, spark):
        text = "no pii at all, just words"
        row = PT.redact_pii(_docs(spark, [(1, text)])).first()
        assert (row.n_email, row.n_phone, row.n_ipv4) == (0, 0, 0)
        assert row.clean_text == text


class TestSalientTerms:
    def test_rank_order_tf_then_rarity_then_term(self, spark):
        # doc 1: 'aa' tf=2; 'bb' and 'cc' tf=1, but 'cc' also occurs in
        # doc 2 (df=2) while 'bb' is unique (df=1) -> bb outranks cc.
        rows = [(1, "aa aa bb cc"), (2, "cc dd")]
        out = (
            PT.salient_terms(_docs(spark, rows))
            .filter("doc_id = 1")
            .orderBy("rank")
            .collect()
        )
        assert [(r.term, r.rank) for r in out] == [("aa", 1), ("bb", 2), ("cc", 3)]


class TestCurateCorpus:
    def test_dedups_and_gates_on_dirty_corpus(self, spark):
        good = "the quick brown fox jumps over the lazy dog again and again today"
        rows = [
            (1, good),                              # canonical
            (2, good),                              # exact duplicate
            (3, "  " + good.upper() + "  "),        # case/whitespace dup
            (4, "dog lazy the over jumps fox brown quick the again and again today"),  # reordered
            (5, "spam " * 30),                      # degenerate repetition
            (6, ";;; ///''' !!! ??? %%% &&& ***"),  # punctuation soup (low quality)
            (7, "email me at a@b.co or the deal is off entirely my friend"),  # PII
        ]
        out = {
            r.doc_id: r
            for r in PT.curate_corpus(_docs(spark, rows)).collect()
        }
        assert 1 in out            # canonical kept
        assert 2 not in out        # exact dup dropped
        assert 3 not in out        # normalized dup dropped
        assert 4 not in out        # reordered dup dropped
        assert 5 not in out        # repetition gate
        assert 6 not in out        # quality gate
        assert 7 in out and "<EMAIL>" in out[7].clean_text
        assert "@" not in out[7].clean_text

    def test_clean_corpus_passes_through(self, spark):
        rows = [(i, f"a perfectly ordinary sentence about topic number {i} here") for i in range(20)]
        out = PT.curate_corpus(_docs(spark, rows))
        assert out.count() == 20
