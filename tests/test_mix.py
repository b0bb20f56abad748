"""Token-budget mixture allocation: hand-computed water-filling, the
water-level invariants on the gate corpus, and empty-input totality."""

from __future__ import annotations

import pytest

from tomasz_weight_tracker_spark.plans import REGISTRY
from tomasz_weight_tracker_spark.plans.catalog import load


@pytest.fixture
def sf_gate(sf_path):
    return sf_path("sf0.01")


def _write_docs(spark, path, rows):
    spark.createDataFrame(
        [(i, text, "en", src, len(text)) for i, (text, src) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{path}/documents.parquet")


class TestTokenBudgetMix:
    def test_hand_computed_waterfill(self, spark, tmp_path):
        """avail A=10, B=100, C=100; budget = 95% of 210 = 199.
        i=1 (A): level (199-0)//3 = 66 >= 10 -> keeps all.
        i=2 (B): level (199-10)//2 = 94 < 100 -> capped; lambda = 94.
        Alloc: A=10, B=94, C=94 (total 198 <= 199)."""
        path = str(tmp_path / "mix")
        _write_docs(
            spark,
            path,
            [("w " * 10, "A"), ("w " * 100, "B"), ("w " * 100, "C")],
        )
        out = {
            r["source"]: r
            for r in REGISTRY["token_budget_mix"].build(spark, path).collect()
        }
        assert out["A"]["tokens_alloc"] == 10 and not out["A"]["capped"]
        assert out["B"]["tokens_alloc"] == 94 and out["B"]["capped"]
        assert out["C"]["tokens_alloc"] == 94 and out["C"]["capped"]
        assert out["A"]["accept_ppm"] == 1_000_000
        assert out["B"]["accept_ppm"] == 940_000

    def test_gate_corpus_invariants(self, spark, sf_gate):
        rows = REGISTRY["token_budget_mix"].build(spark, sf_gate).collect()
        capped = [r for r in rows if r["capped"]]
        kept = [r for r in rows if not r["capped"]]
        assert capped and kept  # both branches live on the gate corpus
        budget = sum(r["tokens_avail"] for r in rows) * 95 // 100
        alloc = sum(r["tokens_alloc"] for r in rows)
        # never over budget; integer leveling leaves < #capped tokens
        assert alloc <= budget
        assert budget - alloc < len(capped) + 1
        # water level: every capped source sits at the same lambda,
        # below its own avail; every kept source is below the line
        lam = {r["tokens_alloc"] for r in capped}
        assert len(lam) == 1
        (lam,) = lam
        assert all(r["tokens_avail"] > lam for r in capped)
        assert all(r["tokens_avail"] <= lam for r in kept)

    def test_empty_corpus_total(self, spark, tmp_path, sf_path):
        path = str(tmp_path / "empty")
        load(spark, sf_path("sf0.001"), "documents").limit(0).write.parquet(
            f"{path}/documents.parquet"
        )
        assert REGISTRY["token_budget_mix"].build(spark, path).collect() == []


class TestTokenBudgetMixApply:
    def test_realized_yield_tracks_allocation(self, spark, sf_gate):
        rows = REGISTRY["token_budget_mix_apply"].build(spark, sf_gate).collect()
        assert len(rows) == 20
        for r in rows:
            # full-acceptance sources keep every doc and every token
            if r["accept_ppm"] == 1_000_000:
                continue
            # sampled sources: realized tokens within doc-granularity
            # noise of the target (docs avg ~54 tokens; 4 docs slack)
            assert abs(r["tokens_kept"] - r["tokens_alloc"]) < 4 * 120
        full = [r for r in rows if r["accept_ppm"] == 1_000_000]
        assert full  # the keep-all branch is represented
        assert all(r["docs_kept"] == 25 for r in full)

    def test_deterministic_across_builds(self, spark, sf_gate):
        a = sorted(
            tuple(r)
            for r in REGISTRY["token_budget_mix_apply"].build(spark, sf_gate).collect()
        )
        b = sorted(
            tuple(r)
            for r in REGISTRY["token_budget_mix_apply"].build(spark, sf_gate).collect()
        )
        assert a == b
