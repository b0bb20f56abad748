"""Round-9 operators: maximal passage-span merge (interval union per
doc pair) and the IVFADC nprobe autotune."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tomasz_weight_tracker_spark.plans import REGISTRY


@pytest.fixture
def sf_small(sf_path):
    return sf_path("sf0.001")


def _write_docs(spark, root: str, texts: list[str]) -> None:
    rows = [(i, t, "en", "p", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{root}/documents.parquet")


class TestDupPassageMaximal:
    def test_twice_planted_passage_merges_to_one_span(self, spark, tmp_path):
        # B contains A's 20-token passage TWICE: the diagonal
        # decomposition reports two fragments over the SAME a-interval;
        # the maximal merge must collapse them to one span.
        shared = [f"s{i}" for i in range(20)]
        a = [f"a{i}" for i in range(5)] + shared + [f"a{i}" for i in range(5, 9)]
        b = (
            [f"b{i}" for i in range(3)]
            + shared
            + [f"c{i}" for i in range(9)]
            + shared
            + [f"d{i}" for i in range(3)]
        )
        root = str(tmp_path)
        _write_docs(spark, root, [" ".join(a), " ".join(b)])
        frags = REGISTRY["dup_passage_spans"].build(spark, root).collect()
        assert len(frags) == 2, "expected one fragment per diagonal"
        assert all((f.a_start, f.span_toks) == (6, 20) for f in frags)
        got = REGISTRY["dup_passage_maximal"].build(spark, root).collect()
        assert len(got) == 1
        r = got[0]
        assert (r.id_a, r.id_b, r.a_start, r.span_toks, r.n_fragments) == (
            0, 1, 6, 20, 2,
        )

    def test_periodic_passage_merges_touching_intervals(self, spark, tmp_path):
        # A contains Q Q (Q = 16 unique tokens), B contains Q once:
        # B's Q matches A's first and second copy on two diagonals,
        # giving TOUCHING a-intervals [i,i+16) and [i+16,i+32) that
        # must union into one 32-token maximal span.
        q = [f"q{i}" for i in range(16)]
        a = [f"a{i}" for i in range(4)] + q + q + [f"a{i}" for i in range(4, 7)]
        b = [f"b{i}" for i in range(6)] + q + [f"c{i}" for i in range(5)]
        root = str(tmp_path)
        _write_docs(spark, root, [" ".join(a), " ".join(b)])
        got = REGISTRY["dup_passage_maximal"].build(spark, root).collect()
        assert len(got) == 1
        r = got[0]
        assert (r.a_start, r.span_toks, r.n_fragments) == (5, 32, 2)

    def test_fragment_conservation_and_disjointness(self, spark, sf_small):
        # On the real corpus: every dup_passage_spans fragment lands in
        # exactly one maximal island, and a pair's maximal spans are
        # pairwise disjoint AND non-touching (else they'd have merged).
        frags = REGISTRY["dup_passage_spans"].build(spark, sf_small).collect()
        merged = REGISTRY["dup_passage_maximal"].build(spark, sf_small).collect()
        assert sum(r.n_fragments for r in merged) == len(frags)
        by_pair: dict[tuple, list] = {}
        for r in merged:
            by_pair.setdefault((r.id_a, r.id_b), []).append(
                (r.a_start, r.a_start + r.span_toks)
            )
        for spans in by_pair.values():
            spans.sort()
            for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
                assert s2 > e1, "adjacent maximal spans must not touch"


class TestCapTolerantBridging:
    def test_overcap_gram_mid_span_does_not_split(self, spark, tmp_path):
        # A 48-token passage shared by docs 0 and 1 contains an 8-gram
        # that also appears in 20 other docs (df = 22 > PSPAN_DF_MAX),
        # so that one gram position is dropped by the cap.  The
        # same-diagonal bridge (gap <= k) must still report ONE
        # maximal 48-token span — pre-bridge this split into two
        # fragments around the capped gram.
        from tomasz_weight_tracker_spark.plans.dedup_lsh import PSPAN_DF_MAX, PSPAN_K

        boiler = [f"bl{i}" for i in range(PSPAN_K)]
        passage = (
            [f"p{i}" for i in range(17)] + boiler + [f"p{i}" for i in range(17, 40)]
        )
        assert len(passage) == 48
        texts = [
            " ".join([f"ua{i}" for i in range(10)] + passage
                     + [f"ua{i}" for i in range(10, 15)]),
            " ".join([f"ub{i}" for i in range(4)] + passage
                     + [f"ub{i}" for i in range(4, 10)]),
        ]
        for d in range(PSPAN_DF_MAX + 4):
            texts.append(
                " ".join([f"x{d}_{i}" for i in range(3)] + boiler
                         + [f"y{d}_{i}" for i in range(2)])
            )
        root = str(tmp_path)
        _write_docs(spark, root, texts)
        spans = [
            r
            for r in REGISTRY["dup_passage_spans"].build(spark, root).collect()
            if {r.id_a, r.id_b} == {0, 1}
        ]
        assert len(spans) == 1, f"capped gram split the span: {spans}"
        r = spans[0]
        assert (r.a_start, r.b_start, r.span_toks) == (11, 5, 48)


class TestIvfadcAutotune:
    def test_sweep_shape_and_choice_rule(self, spark, sf_small):
        from tomasz_weight_tracker_spark.plans.similarity_ann import (
            IVFADC_COARSE,
            IVFADC_TUNE_PCT,
        )

        rows = sorted(
            REGISTRY["ivfadc_autotune"].build(spark, sf_small).collect(),
            key=lambda r: r.nprobe,
        )
        assert [r.nprobe for r in rows] == list(range(1, IVFADC_COARSE + 1))
        full = rows[-1].recall_ppm
        # target is the same on every row and derives from full-probe
        # recall (integer floor).
        assert {r.target_ppm for r in rows} == {IVFADC_TUNE_PCT * full // 100}
        chosen = [r.nprobe for r in rows if r.chosen]
        assert len(chosen) == 1
        # The choice rule: smallest nprobe whose recall captures >=
        # PCT% of the full-probe recall (exact integer comparison).
        expect = min(
            r.nprobe for r in rows if r.recall_ppm * 100 >= IVFADC_TUNE_PCT * full
        )
        assert chosen[0] == expect
        # The full-probe row always satisfies the rule, so the chosen
        # depth never exceeds it.
        assert chosen[0] <= IVFADC_COARSE


class TestStreamingLshAssign:
    def test_drained_stream_equals_one_shot_probe(self, spark, sf_small):
        # The drained 3-micro-batch replay must equal the one-shot
        # probe over the whole corpus with everything marked new —
        # the batching-invariance theorem, checked engine-side (the
        # parity gate checks it against the DuckDB oracle).
        from pyspark.sql import functions as F

        from tomasz_weight_tracker_spark.operators import dedup as D
        from tomasz_weight_tracker_spark.plans.catalog import load
        from tomasz_weight_tracker_spark.plans.llm_ops import (
            LSH_BANDS,
            LSH_K,
            LSH_THRESH,
        )

        drained = {
            (r.doc_id, r.dup_of)
            for r in REGISTRY["streaming_lsh_assign"].build(spark, sf_small).collect()
        }
        docs = load(spark, sf_small, "documents").select("doc_id", "text")
        sigs = (
            D.minhash_signature(docs, "text", k=LSH_K)
            .drop("text")
            .withColumn("is_new", F.lit(True))
        )
        one_shot = {
            (r.doc_id, r.dup_of)
            for r in D.lsh_probe_assign(
                sigs, "is_new", "doc_id",
                k=LSH_K, bands=LSH_BANDS, verify_min=LSH_THRESH,
            )
            .groupBy("doc_id")
            .agg(F.min("dup_of").alias("dup_of"))
            .collect()
        }
        assert drained == one_shot
        assert drained, "sf0.001 corpus is known to contain near-dups"
        # Assignment semantics: dup_of < doc_id always (collapse to the
        # smallest representative), so dropping every doc_id keeps one
        # representative per near-dup class.
        assert all(d < i for i, d in drained)


class TestLshBandAutotune:
    def test_sweep_monotone_and_choice_rule(self, spark, sf_small):
        from tomasz_weight_tracker_spark.plans.dedup_lsh import (
            _LSH_BAND_SWEEP,
            LSH_TUNE_PCT,
        )

        rows = sorted(
            REGISTRY["lsh_band_autotune"].build(spark, sf_small).collect(),
            key=lambda r: r.bands,
        )
        assert [r.bands for r in rows] == list(_LSH_BAND_SWEEP)
        # Chunked bandings nest (a full-signature match implies both
        # half matches, etc.), so candidates and recall are monotone
        # non-decreasing in band count.
        for lo, hi in zip(rows, rows[1:]):
            assert lo.n_cand <= hi.n_cand
            assert lo.recall_ppm <= hi.recall_ppm
        full = rows[-1].recall_ppm
        assert {r.target_ppm for r in rows} == {LSH_TUNE_PCT * full // 100}
        chosen = [r.bands for r in rows if r.chosen]
        assert chosen == [
            min(
                r.bands
                for r in rows
                if r.recall_ppm * 100 >= LSH_TUNE_PCT * full
            )
        ]
        # bands=1 candidates are identical-signature pairs: all verify.
        assert rows[0].n_cand == rows[0].n_verified


class TestInferredCsvScan:
    def test_infer_mode_types_and_values_match_coerce_path(self, spark, tmp_path):
        # The literal inferSchema variant (the reference's
        # read_csv_auto mode) must agree with the default
        # try_cast-coerce path on a clean file: numeric columns come
        # back typed, and every value matches.
        from tomasz_weight_tracker_spark.sources.csv_normalized import (
            inferred_csv_scan,
            normalized_sensor_scan,
        )

        p = tmp_path / "sensor Living room 202501010000.csv"
        p.write_text(
            "Timestamp,Temperature_Celsius(calibrated -0.1 deg C),Humidity\n"
            "2025-01-01 00:00:00,21.5,40\n"
            "2025-01-01 00:15:00,21.7,41\n"
            "2025-01-01 00:30:00,21.9,42\n"
        )
        inf = inferred_csv_scan(spark, str(p))
        assert dict(inf.dtypes)["Temperature_Celsius"] == "double"
        assert dict(inf.dtypes)["Humidity"] == "int"
        coerced = normalized_sensor_scan(spark, str(p))
        a = {
            (str(r.Timestamp), float(r.Temperature_Celsius), float(r.Humidity))
            for r in inf.collect()
        }
        b = {
            (str(r.Timestamp), float(r.Temperature_Celsius), float(r.Humidity))
            for r in coerced.collect()
        }
        assert a == b and len(a) == 3

    def test_infer_mode_demotes_dirty_column_coerce_does_not(self, spark, tmp_path):
        # The documented semantic difference: a stray string demotes
        # the whole inferred column to string, while the coerce path
        # nulls just that cell — the reason try_cast is the default.
        from tomasz_weight_tracker_spark.sources.csv_normalized import (
            inferred_csv_scan,
            normalized_sensor_scan,
        )

        p = tmp_path / "sensor Attic 202501010000.csv"
        p.write_text(
            "Timestamp,Temperature_Celsius\n"
            "2025-01-01 00:00:00,21.5\n"
            "2025-01-01 00:15:00,sensor_error\n"
        )
        inf = inferred_csv_scan(spark, str(p))
        assert dict(inf.dtypes)["Temperature_Celsius"] == "string"
        coerced = normalized_sensor_scan(spark, str(p))
        vals = {r.Temperature_Celsius for r in coerced.collect()}
        assert vals == {21.5, None}


class TestGopherRuleAttribution:
    def test_attribution_consistent_with_boolean_view(self, spark, sf_small):
        rules = ["word_count", "mean_word_len", "stopwords", "alpha_words"]
        flags = {
            r.doc_id: {n: r[f"r_{n}"] for n in rules}
            for r in REGISTRY["gopher_quality_rules"].build(spark, sf_small).collect()
        }
        attr = {
            r.rule: r
            for r in REGISTRY["gopher_rule_attribution"].build(spark, sf_small).collect()
        }
        assert set(attr) == set(rules)
        for n in rules:
            n_fail = sum(1 for f in flags.values() if not f[n])
            n_unique = sum(
                1
                for f in flags.values()
                if not f[n] and all(f[o] for o in rules if o != n)
            )
            assert (attr[n].n_fail, attr[n].n_unique_fail) == (n_fail, n_unique)
        n_keep = sum(1 for f in flags.values() if all(f.values()))
        assert {r.n_docs for r in attr.values()} == {len(flags)}
        assert {r.n_keep for r in attr.values()} == {n_keep}
        # Unique kills never exceed total kills.
        assert all(r.n_unique_fail <= r.n_fail for r in attr.values())


class TestSourceTemperatureMix:
    def test_flattening_and_conservation(self, spark, sf_small):
        import math

        from tomasz_weight_tracker_spark.plans.text_curation import TMIX_BUDGET_PCT

        rows = REGISTRY["source_temperature_mix"].build(spark, sf_small).collect()
        assert rows
        tot_avail = sum(r.tokens_avail for r in rows)
        budget = tot_avail * TMIX_BUDGET_PCT // 100
        sum_w = sum(r.w for r in rows)
        for r in rows:
            # Exact integer sqrt.
            assert r.w == math.isqrt(r.tokens_avail)
            # accept_ppm realizes min(budget share, own supply).
            alloc = min(budget * r.w // sum_w, r.tokens_avail)
            expect = 0 if r.tokens_avail == 0 else min(
                1_000_000, alloc * 1_000_000 // r.tokens_avail
            )
            assert r.accept_ppm == expect
            assert r.docs_kept <= r.n_docs
            assert r.tokens_kept <= r.tokens_avail
        # Flattening trend: w/avail ~ 1/sqrt(avail) is non-monotone by
        # +-1 at perfect-square boundaries, so compare only sources
        # whose sizes differ enough for the sqrt to dominate the step.
        uncapped = sorted(
            (r for r in rows if r.accept_ppm < 1_000_000),
            key=lambda r: r.tokens_avail,
        )
        for small in uncapped:
            for big in uncapped:
                if big.tokens_avail >= 4 * small.tokens_avail > 0:
                    assert small.accept_ppm > big.accept_ppm
