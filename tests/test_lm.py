"""Bigram-LM quality filtering and perceptron classifier training:
hand-computed scores on a tiny corpus, convergence, totality on empty
input, and the engine-portable floor division."""

from __future__ import annotations

from pyspark.sql import functions as F

from tomasz_weight_tracker_spark.operators.lm import (
    LM_KEEP_E9,
    N_BUCKETS,
    SCALE_E9,
    _floor_div,
    lm_score,
    perceptron_features,
    perceptron_train,
)


def _docs(spark, items):
    return spark.createDataFrame(items, "doc_id long, text string")


class TestLmScore:
    def test_hand_computed_bigram_probabilities(self, spark):
        """train = doc 0: "a b a b" -> uni {a:2, b:2}, V=2,
        bigrams {(a b):2, (b a):1}.
        held doc 1 = "a b" -> p(a b) = (2+1)/(2+2) = 0.75 -> 750M.
        held doc 2 = "b b" -> p(b b) = (0+1)/(2+2) = 0.25 -> 250M.
        held doc 3 = "c c" -> p(c c) = (0+1)/(0+2) = 0.50 -> 500M.
        """
        out = lm_score(
            _docs(
                spark,
                [(0, "a b a b"), (1, "a b"), (2, "b b"), (3, "c c")],
            )
        ).collect()
        got = {r["doc_id"]: (r["n_bigrams"], r["lm_score_e9"], r["kept"]) for r in out}
        assert got == {
            1: (1, 750_000_000, True),
            2: (1, 250_000_000, True),
            3: (1, 500_000_000, True),
        }

    def test_short_and_empty_docs_unscoreable(self, spark):
        out = lm_score(
            _docs(spark, [(0, "a b"), (1, "one"), (2, ""), (3, None), (4, "x y")])
        ).collect()
        assert {r["doc_id"] for r in out} == {4}

    def test_empty_corpus_total(self, spark):
        assert lm_score(_docs(spark, [])).collect() == []

    def test_gate_corpus_splits_both_classes(self, spark, sf_path):
        out = lm_score(
            spark.read.parquet(f"{sf_path('sf0.01')}/documents.parquet")
        ).agg(
            F.sum(F.col("kept").cast("int")).alias("k"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        assert 0 < out["k"] < out["n"]
        assert out["n"] == 400  # 500 docs minus the 100-doc train split

    def test_quantization_monotone(self):
        # e9 quantization preserves the keep/drop ordering of rationals
        # that differ by more than 1 ulp of the grid.
        assert (SCALE_E9 * 3) // 4 > (SCALE_E9 * 1) // 4
        assert 0 < LM_KEEP_E9 < SCALE_E9


class TestPerceptron:
    def test_floor_div_portable(self):
        for a in (-9, -8, -7, -1, 0, 1, 7, 8, 9):
            for d in (1, 2, 4, 8):
                assert _floor_div(a, d) == a // d

    def test_features_shape_and_bias(self, spark):
        f = perceptron_features(_docs(spark, [(0, "the the x"), (1, "")]))
        rows = {r["doc_id"]: r for r in f.collect()}
        assert rows[0][f"x{N_BUCKETS}"] == 1 and rows[1][f"x{N_BUCKETS}"] == 1
        # token counts land somewhere in the 32 buckets and sum to 3
        assert sum(rows[0][f"x{b}"] for b in range(N_BUCKETS)) == 3
        assert sum(rows[1][f"x{b}"] for b in range(N_BUCKETS)) == 0
        # label: doc 0 is 2/3 stopwords -> +1; empty doc -> +1 (0 >= 0)
        assert rows[0]["y"] == 1 and rows[1]["y"] == 1

    def test_training_converges_on_gate_corpus(self, spark, sf_path):
        docs = spark.read.parquet(f"{sf_path('sf0.01')}/documents.parquet")
        out = perceptron_train(spark, docs, 8)
        errs = {r["round"]: r["errors"] for r in out.select("round", "errors").distinct().collect()}
        assert errs[1] == 500  # w=0: every margin is 0, all flagged
        # geometric decay converges well under the majority baseline (241)
        assert errs[8] < 150
        assert out.count() == 8 * (N_BUCKETS + 1)

    def test_empty_corpus_total(self, spark):
        out = perceptron_train(spark, _docs(spark, []), 2)
        rows = out.collect()
        assert len(rows) == 2 * (N_BUCKETS + 1)
        assert all(r["weight"] == 0 and r["errors"] == 0 for r in rows)


class TestPerceptronSparse:
    """Long-form sparse trainer (round 8): same integer trajectory as
    the dense trainer when run at the same B, and the scale ceiling
    lifted — B=4096 converges with no 4096-column plan."""

    def test_sparse_equals_dense_at_same_buckets(self, spark):
        from tomasz_weight_tracker_spark.operators.lm import (
            perceptron_train_sparse,
        )

        docs = _docs(
            spark,
            [
                (0, "the of and quality content here"),
                (1, "zz yy xx ww vv uu tt ss"),
                (2, "the the the filler"),
                (3, "aa bb cc dd ee ff gg hh ii jj"),
                (4, ""),
            ],
        )
        dense = {
            (r["round"], r["feature"]): (r["weight"], r["errors"])
            for r in perceptron_train(spark, docs, 4).collect()
        }
        sparse = {
            (r["round"], r["feature"]): (r["weight"], r["errors"])
            for r in perceptron_train_sparse(
                spark, docs, 4, n_buckets=N_BUCKETS
            ).collect()
        }
        assert dense == sparse

    def test_b4096_converges_on_gate_corpus(self, spark, sf_path):
        from tomasz_weight_tracker_spark.operators.lm import (
            SPARSE_BUCKETS,
            perceptron_train_sparse,
        )

        docs = spark.read.parquet(f"{sf_path('sf0.01')}/documents.parquet")
        out = perceptron_train_sparse(spark, docs, 6)
        errs = {
            r["round"]: r["errors"]
            for r in out.select("round", "errors").distinct().collect()
        }
        assert errs[1] == 500  # w=0: every margin is 0, all flagged
        # wider feature space separates better than both the majority
        # baseline (241) and the dense B=32 trainer's plateau (114)
        assert errs[6] < 100
        assert out.count() == 6 * (SPARSE_BUCKETS + 1)

    def test_empty_corpus_total(self, spark):
        from tomasz_weight_tracker_spark.operators.lm import (
            perceptron_train_sparse,
        )

        out = perceptron_train_sparse(spark, _docs(spark, []), 2, n_buckets=8)
        rows = out.collect()
        assert len(rows) == 2 * 9
        assert all(r["weight"] == 0 and r["errors"] == 0 for r in rows)


class TestDsir:
    def test_hand_computed_ratio(self, spark):
        """target doc 0 = "aa aa", raw doc 1 = "aa bb".
        Nt=2, Nr=2, B=256.  bucket(aa) != bucket(bb) w.h.p. (fixed md5).
        ratio(b_aa) = 1e6 * (2+1) * (2+256) // ((1+1) * (2+256)) = 1_500_000
        ratio(b_bb) = 1e6 * (0+1) * 258 // ((1+1) * 258)         =   500_000
        doc 1 weight = (1_500_000 + 500_000) // 2 = 1_000_000
        """
        from tomasz_weight_tracker_spark.operators.lm import dsir_weights

        out = dsir_weights(_docs(spark, [(0, "aa aa"), (1, "aa bb")])).collect()
        assert len(out) == 1
        r = out[0]
        assert (r["doc_id"], r["n_tokens"], r["weight_e6"]) == (1, 2, 1_000_000)
        assert r["rnk"] == 1 and r["selected"]

    def test_target_affinity_ranks_higher(self, spark):
        """A raw doc sharing the target's vocabulary outweighs one
        with unseen vocabulary."""
        from tomasz_weight_tracker_spark.operators.lm import dsir_weights

        out = {
            r["doc_id"]: r["weight_e6"]
            for r in dsir_weights(
                _docs(spark, [(0, "x x y"), (1, "x y x"), (2, "q r s")])
            ).collect()
        }
        assert out[1] > out[2]

    def test_empty_corpus_total(self, spark):
        from tomasz_weight_tracker_spark.operators.lm import dsir_weights

        assert dsir_weights(_docs(spark, [])).collect() == []


class TestStreamingLmFilter:
    def test_stream_equals_batch(self, spark, sf_path):
        """Train-offline / score-online introduces no drift: the drained
        streaming state must equal the batch scorer row-for-row."""
        from tomasz_weight_tracker_spark.plans import REGISTRY

        sf = sf_path("sf0.001")
        got = sorted(
            tuple(r)
            for r in REGISTRY["streaming_lm_filter"].build(spark, sf).collect()
        )
        want = sorted(
            tuple(r) for r in REGISTRY["ngram_lm_score"].build(spark, sf).collect()
        )
        assert got == want and len(got) > 0


class TestPerceptronApply:
    def test_apply_consistent_with_training(self, spark, sf_path):
        from tomasz_weight_tracker_spark.operators.lm import (
            perceptron_apply,
            perceptron_train,
        )

        docs = spark.read.parquet(f"{sf_path('sf0.01')}/documents.parquet")
        rows = perceptron_apply(docs, 8).collect()
        assert len(rows) == 500
        n_correct = sum(1 for r in rows if r["correct"])
        # final-round errors from the trajectory == misclassified here
        errs = {
            r["round"]: r["errors"]
            for r in perceptron_train(spark, docs, 8)
            .select("round", "errors")
            .distinct()
            .collect()
        }
        # note: round-8 errors were measured against the PRE-update
        # weights of round 8; apply uses post-update weights, so the
        # two agree only if the last update barely moves the boundary
        assert 500 - n_correct <= errs[8] + 20
        for r in rows:
            assert r["pred"] == (1 if r["dot"] > 0 else -1)
            assert r["correct"] == (r["pred"] == r["y"])


class TestLmCalibrated:
    def test_per_source_median_threshold(self, spark, sf_path):
        from tomasz_weight_tracker_spark.plans import REGISTRY

        rows = REGISTRY["lm_score_calibrated"].build(
            spark, sf_path("sf0.01")
        ).collect()
        assert len(rows) == 400
        by_src = {}
        for r in rows:
            by_src.setdefault(r["source"], []).append(r)
        for src, rs in by_src.items():
            scores = sorted(x["lm_score_e9"] for x in rs)
            lower_median = scores[(len(scores) + 1) // 2 - 1]
            assert all(x["src_median_e9"] == lower_median for x in rs)
            kept = [x for x in rs if x["kept_cal"]]
            # the per-source cut keeps roughly the top half of EVERY
            # source — the whole point vs a corpus-global threshold
            assert len(kept) >= len(rs) // 2
            assert all(x["lm_score_e9"] >= lower_median for x in kept)
