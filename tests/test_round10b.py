"""Round-10b additions: keep-best cluster representatives, global line
dedup scrub, margin bitext mining, JSONL round trip.

Property tests on crafted corpora (the catalog queries themselves are
hash-checked against DuckDB by tools/parity.py / the driver gate).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tomasz_weight_tracker_spark.plans.catalog import REGISTRY


def test_registry_has_round10b_entries():
    for name in (
        "dup_cluster_keep_best",
        "line_dedup_scrub",
        "streaming_line_dedup",
        "bitext_mine_margin",
        "jsonl_roundtrip",
    ):
        q = REGISTRY[name]
        assert q.oracle is not None
        # decorator-adjacency pitfall guard: the registered callable is
        # the builder itself, not a helper defined between decorators.
        assert q.build.__name__ == f"q_{name}"


class TestLineScrub:
    """Keep-first semantics on a corpus crafted so every case occurs:
    a line duplicated across docs, a line duplicated WITHIN a doc, a
    doc whose every line first occurred elsewhere, and an empty doc."""

    def _scrub(self, spark, rows):
        # Reuse the registered builder against a temp parquet dir so
        # the test exercises the production plan verbatim.
        import tempfile

        d = tempfile.mkdtemp(prefix="linescrub")
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = REGISTRY["line_dedup_scrub"].build(spark, d)
        return {r["doc_id"]: r.asDict() for r in out.collect()}

    def test_keep_first_and_rebuild(self, spark):
        w8 = lambda tag: " ".join(f"{tag}{i}" for i in range(8))  # noqa: E731
        a, b, c = w8("a"), w8("b"), w8("c")
        rows = [
            (0, f"{a} {b}", "en", "s", 0),  # first occurrence of a and b
            (1, f"{a} {c} {c}", "en", "s", 0),  # a dies; c kept once
            (2, f"{b}", "en", "s", 0),  # everything already seen
            (3, "", "en", "s", 0),  # empty doc
        ]
        got = self._scrub(spark, rows)
        assert got[0]["n_lines"] == 2 and got[0]["n_kept"] == 2
        assert got[1]["n_lines"] == 3 and got[1]["n_kept"] == 1
        assert got[2]["n_lines"] == 1 and got[2]["n_kept"] == 0
        assert got[3]["n_lines"] == 0 and got[3]["n_kept"] == 0
        # doc 2 and doc 3 both rebuild to '' -> identical fingerprints
        assert got[2]["rebuilt_fp"] == got[3]["rebuilt_fp"]
        assert got[2]["n_chars_kept"] == 0
        # doc 1 keeps exactly the c-chunk (the within-doc duplicate
        # collapses to its first occurrence)
        assert got[1]["n_chars_kept"] == len(c)

    def test_duplication_factor_invariance(self, spark):
        """A verbatim-duplicated corpus keeps exactly the original's
        lines — total kept is independent of the duplication factor
        (the property that makes this the 1x-cost dedup path)."""
        w8 = lambda tag: " ".join(f"{tag}{i}" for i in range(8))  # noqa: E731
        base = [(i, f"{w8('x' + str(i))} {w8('y' + str(i))}", "en", "s", 0) for i in range(3)]
        dup = base + [(100 + i, t, la, s, n) for (i, t, la, s, n) in base]
        got = self._scrub(spark, dup)
        assert sum(r["n_kept"] for r in got.values()) == 6
        assert all(got[100 + i]["n_kept"] == 0 for i in range(3))


class TestKeepBest:
    def test_argmax_quality_min_id_tiebreak(self, spark):
        import tempfile

        d = tempfile.mkdtemp(prefix="keepbest")
        # docs 0,1,2 are one near-dup cluster (same vocab superset);
        # doc 1 has the largest distinct vocabulary -> kept.  docs 5,6
        # tie on quality -> min id 5 kept.  doc 50 is a singleton.
        common = "alpha beta gamma delta epsilon zeta eta theta"
        rows = [
            (0, common, "en", "s", 0),
            (1, common + " iota kappa", "en", "s", 0),
            (2, common + " iota", "en", "s", 0),
            (5, "one two three four five six seven eight nine ten", "en", "t", 0),
            (6, "ten nine eight seven six five four three two one", "en", "t", 0),
            (50, "lonely solitary unique document here", "en", "u", 0),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out = {
            r["component"]: r.asDict()
            for r in REGISTRY["dup_cluster_keep_best"].build(spark, d).collect()
        }
        assert out[0]["n_members"] == 3 and out[0]["kept_doc_id"] == 1
        assert out[0]["kept_quality"] == 10
        assert out[5]["n_members"] == 2 and out[5]["kept_doc_id"] == 5
        assert out[50]["n_members"] == 1 and out[50]["kept_doc_id"] == 50


class TestBitextMargin:
    def test_mutual_and_margin_properties(self, spark, sf_path):
        df = REGISTRY["bitext_mine_margin"].build(spark, sf_path("sf0.001"))
        rows = df.collect()
        assert len(rows) > 0
        # parity split: src even, tgt odd; margin strictly above 1
        for r in rows:
            assert r["src_id"] % 2 == 0 and r["tgt_id"] % 2 == 1
            assert r["margin"] > 1.0
        # mutual-kNN: no src or tgt appears more than k=4 times
        from collections import Counter

        cs = Counter(r["src_id"] for r in rows)
        ct = Counter(r["tgt_id"] for r in rows)
        assert max(cs.values()) <= 4 and max(ct.values()) <= 4


class TestJsonl:
    def test_declared_schema_roundtrip_types(self, spark, tmp_path):
        from tomasz_weight_tracker_spark.sources.jsonl import jsonl_scan, write_jsonl

        df = spark.createDataFrame(
            [(1, "a", ("en", 10), ["x", "y"]), (2, "b", ("de", 0), [])],
            "doc_id long, source string, meta struct<lang:string,n_chars:bigint>, "
            "head_toks array<string>",
        )
        path = str(tmp_path / "jl")
        write_jsonl(df, path)
        r = jsonl_scan(
            spark,
            path,
            "doc_id bigint, source string, "
            "meta struct<lang:string,n_chars:bigint>, head_toks array<string>",
        )
        assert r.schema == df.schema
        got = sorted((x["doc_id"], x["meta"]["lang"], x["head_toks"]) for x in r.collect())
        assert got == [(1, "en", ["x", "y"]), (2, "de", [])]

    def test_failfast_on_malformed(self, spark, tmp_path):
        p = tmp_path / "bad"
        p.mkdir()
        (p / "part-0.json").write_text('{"doc_id": 1}\nnot json at all\n')
        from tomasz_weight_tracker_spark.sources.jsonl import jsonl_scan

        import pytest as _pt

        with _pt.raises(Exception):
            jsonl_scan(spark, str(p), "doc_id bigint").collect()


class TestStreamingLineDedup:
    def test_fold_equals_one_shot_scrub(self, spark, sf_path):
        """The drained per-doc kept counts must equal the batch scrub's
        (for docs that keep anything) — the batching-invariance the
        oracle parity proves, asserted here engine-side at sf0.001."""
        sf = sf_path("sf0.001")
        stream = {
            r["doc_id"]: (r["n_kept"], r["n_occurrences"])
            for r in REGISTRY["streaming_line_dedup"].build(spark, sf).collect()
        }
        batch = {
            r["doc_id"]: r["n_kept"]
            for r in REGISTRY["line_dedup_scrub"].build(spark, sf).collect()
        }
        assert {d: v[0] for d, v in stream.items()} == {
            d: n for d, n in batch.items() if n > 0
        }
        # every occurrence in the corpus is absorbed by exactly one
        # keeping doc: totals conserve
        total_lines = sum(v[1] for v in stream.values())
        kept_lines = sum(v[0] for v in stream.values())
        assert total_lines >= kept_lines > 0
