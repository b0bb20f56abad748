"""Round-11 additions: IVF-candidate bitext mining (the scale-path twin
the round-10 verdict asked for) and LSH-candidate keep-best.

The catalog queries themselves are hash-checked against DuckDB by
tools/parity.py / the driver gate; these tests pin the PLAN SHAPE (no
src x tgt cartesian anywhere — the whole point of the twin) and the
mining-policy properties on the real testdata.
"""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from tomasz_weight_tracker_spark.plans.catalog import REGISTRY


@pytest.fixture
def sf(sf_path):
    return sf_path("sf0.001")


def test_registry_has_round11_entries():
    for name in (
        "bitext_mine_margin_ivf",
        "dup_cluster_keep_best_lsh",
        "electricity_15min_userslice",
        "snm_near_dup_blockslice",
    ):
        q = REGISTRY[name]
        assert q.oracle is not None
        # decorator-adjacency pitfall guard
        assert q.build.__name__ == f"q_{name}"


class TestBitextIvfPlanShape:
    def test_no_corpus_cartesian(self, spark, sf):
        """The round-10 weak was a deliberate src x broadcast(tgt)
        cartesian.  The IVF twin must have NO CartesianProduct and no
        unkeyed join except against the (bounded, broadcast) centroid
        relation — every BroadcastNestedLoopJoin must build on an
        IdentityBroadcastMode exchange (the <=8-row centroid side),
        and the src-tgt candidate cut must be an equi-join keyed on
        centroid_id.  margin_mine materializes the ranked pairs eagerly,
        so the invariants are checked on the plan of the pair relation
        it materializes."""
        from tomasz_weight_tracker_spark.plans.catalog import load
        from tomasz_weight_tracker_spark.plans.similarity_ann import (
            _IVF_NCENT,
            ivf_candidate_pairs,
        )

        df = ivf_candidate_pairs(load(spark, sf, "embeddings"), n_cent=_IVF_NCENT)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        # the candidate cut is a keyed join on centroid_id
        assert re.search(
            r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[centroid_id",
            plan,
        ), "candidate generation must equi-join on centroid_id"
        # every unkeyed join is a centroid broadcast: BNLJ count never
        # exceeds the IdentityBroadcastMode (bounded build side) count
        n_bnlj = plan.count("BroadcastNestedLoopJoin")
        n_ident = plan.count("IdentityBroadcastMode")
        assert n_bnlj <= n_ident, (
            f"{n_bnlj} nested-loop joins but only {n_ident} bounded "
            "broadcast builds — a corpus-sized unkeyed join crept in"
        )


class TestBitextIvfProperties:
    def test_candidate_cut_and_policy(self, spark, sf):
        from tomasz_weight_tracker_spark.plans.similarity_ann import (
            _BITEXT_K,
            ivf_candidate_pairs,
        )

        e = spark.read.parquet(f"{sf}/embeddings.parquet")
        n = e.count()
        n_src = e.filter(F.col("vec_id") % 2 == 0).count()
        n_tgt = n - n_src
        n_pairs = ivf_candidate_pairs(e, n_cent=8).count()
        # nprobe=2 of 8 buckets: the relation must be well under the
        # cartesian (exactly nprobe/C of it in expectation)
        assert 0 < n_pairs < 0.5 * n_src * n_tgt

        rows = REGISTRY["bitext_mine_margin_ivf"].build(spark, sf).collect()
        assert len(rows) > 0
        for r in rows:
            assert r["src_id"] % 2 == 0 and r["tgt_id"] % 2 == 1
            assert r["margin"] > 1.0
        # mutual-kNN: no side appears more than k times
        assert max(Counter(r["src_id"] for r in rows).values()) <= _BITEXT_K
        assert max(Counter(r["tgt_id"] for r in rows).values()) <= _BITEXT_K


class TestSliceTwinsAreExact:
    """The sf10 slice twins must be SUBSETS of the full runs, row for
    row — whole-series (meter) / whole-block slicing, not sampling."""

    def test_electricity_userslice_is_projection_of_full(self, spark, sf):
        full = REGISTRY["electricity_15min"].build(spark, sf)
        sliced = REGISTRY["electricity_15min_userslice"].build(spark, sf)
        expect = sorted(
            tuple(r) for r in full.filter(F.col("user_id") % 50 == 7).collect()
        )
        got = sorted(tuple(r) for r in sliced.collect())
        assert got == expect and len(got) > 0

    def test_snm_blockslice_is_subset_of_full(self, spark, sf):
        full = {tuple(r) for r in REGISTRY["snm_near_dup"].build(spark, sf).collect()}
        got = {
            tuple(r)
            for r in REGISTRY["snm_near_dup_blockslice"].build(spark, sf).collect()
        }
        assert got and got <= full


class TestKeepBestLsh:
    def test_membership_partition_and_quality(self, spark, sf):
        d = spark.read.parquet(f"{sf}/documents.parquet")
        out = REGISTRY["dup_cluster_keep_best_lsh"].build(spark, sf).collect()
        # components partition the corpus: members sum to the doc count
        assert sum(r["n_members"] for r in out) == d.count()
        # the kept doc's recorded quality is its actual distinct-vocab size
        from tomasz_weight_tracker_spark.functions import tokens

        q = {
            r["doc_id"]: r["q"]
            for r in d.select(
                "doc_id",
                F.size(
                    F.array_distinct(
                        tokens(F.lower(F.coalesce(F.col("text"), F.lit(""))))
                    )
                ).alias("q"),
            ).collect()
        }
        for r in out:
            assert q[r["kept_doc_id"]] == r["kept_quality"]
            # representative belongs to its own cluster id space
            assert r["kept_doc_id"] >= 0


class TestEmptyDocJaccardParity:
    """Round-10 ADVICE: two empty/whitespace-only docs in the same
    source within 40 ids made the keep-best/clusters oracles divide
    0/0 (NaN > 0.5 is TRUE under DuckDB's NaN ordering) while Spark's
    jaccard_exprs returns 0.0 — a data-dependent hash mismatch.  Both
    oracles now guard the denominator; this pins cross-engine
    agreement on exactly that corpus."""

    def test_empty_empty_pair_agrees(self, spark, tmp_path):
        import duckdb

        rows = [
            (0, "", "en", "s", 0),  # empty …
            (1, "   ", "en", "s", 0),  # … and whitespace-only, same source
            (5, "alpha beta gamma delta", "en", "s", 0),
            (6, "alpha beta gamma delta epsilon", "en", "s", 0),
        ]
        d = str(tmp_path)
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{d}/documents.parquet/*.parquet')"
        )
        for name in ("dup_clusters", "dup_cluster_keep_best"):
            q = REGISTRY[name]
            got = sorted(tuple(r) for r in q.build(spark, d).collect())
            cur = con.execute(q.oracle)
            want = sorted(tuple(r) for r in cur.fetchall())
            assert got == want, f"{name}: {got} != {want}"
        # specifically: the empty docs must NOT cluster together —
        # keep-best reports them as SINGLETON components …
        kb = {
            r["component"]: r.asDict()
            for r in REGISTRY["dup_cluster_keep_best"].build(spark, d).collect()
        }
        assert kb[0]["n_members"] == 1 and kb[1]["n_members"] == 1
        # … and dup_clusters (clustered docs only) omits them entirely
        dc = REGISTRY["dup_clusters"].build(spark, d).collect()
        assert not any(row[0] in (0, 1) or row[1] in (0, 1) for row in dc)


class TestJpegCodec:
    """Baseline JPEG codec (operators/codecs.py): the DC-only closed
    form the media_decode_jpeg oracle replays, plus the AC/entropy/
    color paths pinned by golden constants (no SQL engine replays a
    cosine-basis IDCT bit-exactly, so the gate covers DC-constant
    blobs and these tests own the rest)."""

    def test_dc_closed_form(self):
        from tomasz_weight_tracker_spark.operators import codecs

        def dr(a, q):
            return (a + q // 2) // q if a >= 0 else -((-a + q // 2) // q)

        for v in (0, 1, 100, 101, 127, 128, 129, 200, 254, 255):
            raw = codecs.make_jpeg(16, 16, lambda x, y, v=v: v)
            d = codecs.parse_jpeg(raw)
            expect = max(0, min(255, 2 * dr(v - 128, 2) + 128))
            got = {p[0] for p in d["pixels"]}
            assert got == {expect}, (v, got, expect)

    def test_block_constant_multi(self):
        from tomasz_weight_tracker_spark.operators import codecs

        raw = codecs.make_jpeg(
            24, 16, lambda x, y: ((x // 8) * 37 + (y // 8) * 13 + 5) % 256
        )
        d = codecs.parse_jpeg(raw)
        assert (d["width"], d["height"]) == (24, 16)
        assert sorted(set(p[0] for p in d["pixels"])) == [4, 18, 42, 54, 78, 92]

    def test_gradient_golden_and_fidelity(self):
        from tomasz_weight_tracker_spark.operators import codecs
        import hashlib

        raw = codecs.make_jpeg(16, 16, lambda x, y: x * 3 + y * 2)
        d = codecs.parse_jpeg(raw)
        got = bytes(p[0] for p in d["pixels"])
        assert hashlib.md5(got).hexdigest() == "7c44f4f3ba4ce3d4b1ce607f576c6522"
        # smooth gradient: full FDCT->Huffman->IDCT chain within 2 LSB
        assert max(abs(got[y * 16 + x] - (x * 3 + y * 2))
                   for y in range(16) for x in range(16)) <= 2

    def test_color_golden(self):
        from tomasz_weight_tracker_spark.operators import codecs
        import hashlib

        raw = codecs.make_jpeg(
            16, 8, lambda x, y: ((x * 10) % 256, (y * 30) % 256, 60), gray=False
        )
        d = codecs.parse_jpeg(raw)
        flat = bytes(v for p in d["pixels"] for v in p)
        assert hashlib.md5(flat).hexdigest() == "30908f0aa5b928262cdd3d82ba6ef3cd"

    def test_edge_cases(self):
        from tomasz_weight_tracker_spark.operators import codecs

        raw = codecs.make_jpeg(12, 10, lambda x, y: 77)
        d = codecs.parse_jpeg(raw)
        assert (d["width"], d["height"], len(d["pixels"])) == (12, 10, 120)
        # truncated entropy stream -> header-only, not an exception
        t = codecs.parse_jpeg(raw[: len(raw) // 2])
        assert t == {"width": 12, "height": 10, "pixels": None}
        # progressive (SOF2) -> header-only
        p = codecs.parse_jpeg(raw.replace(b"\xff\xc0", b"\xff\xc2", 1))
        assert p == {"width": 12, "height": 10, "pixels": None}
        # not a JPEG at all -> None (falls through the decoder chain)
        assert codecs.parse_jpeg(b"not a jpeg") is None

    def test_restart_interval_round_trip(self):
        """DRI/RST streams (common camera output) decode to the SAME
        pixels as the plain stream — the ADVICE r11 dead-code finding:
        restart() must consume the RST bytes even when the reader never
        latched the marker (ADVICE: codecs.py _BitReader.restart)."""
        from tomasz_weight_tracker_spark.operators import codecs

        fn = lambda x, y: (x * 7 + y * 5) % 256  # noqa: E731
        plain = codecs.parse_jpeg(codecs.make_jpeg(32, 24, fn))
        for dri in (1, 2, 3):  # 12 MCUs: exercises RST0..RST7 wrap at dri=1
            raw = codecs.make_jpeg(32, 24, fn, restart_interval=dri)
            assert b"\xff\xdd" in raw
            d = codecs.parse_jpeg(raw)
            assert d["pixels"] is not None
            assert d["pixels"] == plain["pixels"]
        # color path resets all three DC predictors
        fnc = lambda x, y: ((x * 9) % 256, (y * 11) % 256, (x + y) % 256)  # noqa: E731
        pc = codecs.parse_jpeg(codecs.make_jpeg(24, 16, fnc, gray=False))
        dc = codecs.parse_jpeg(
            codecs.make_jpeg(24, 16, fnc, gray=False, restart_interval=1)
        )
        assert dc["pixels"] == pc["pixels"] and dc["pixels"] is not None

    def test_truncated_segment_headers_never_raise(self):
        """Corrupt marker segments (short SOS / short SOF component list)
        degrade to header-only dicts, never IndexError — one bad crawl
        blob must not kill the mapInPandas task."""
        from tomasz_weight_tracker_spark.operators import codecs
        from tomasz_weight_tracker_spark.operators.multimodal import _decode_one

        blobs = [
            b"\xff\xd8\xff\xda\x00\x02",  # SOS with empty body
            b"\xff\xd8\xff\xda\x00\x04\x03\x01",  # ns=3, body too short
            b"\xff\xd8\xff\xc0\x00\x08\x08\x00\x10\x00\x10\x03",  # SOF0 short comps
        ]
        for blob in blobs:
            r = codecs.parse_jpeg(blob)
            assert r is not None and r["pixels"] is None
            rec = _decode_one(blob)  # falls through to the stub features
            assert rec["features"] is not None

    def test_decode_media_dispatch(self):
        from tomasz_weight_tracker_spark.operators import codecs
        from tomasz_weight_tracker_spark.operators.multimodal import _decode_one

        rec = _decode_one(codecs.make_jpeg(16, 8, lambda x, y: 100))
        assert rec["decoder"] == "jpeg"
        assert (rec["width"], rec["height"]) == (16, 8)
        assert abs(rec["features"][0] - 100 / 255.0) < 1e-9


class TestIvfAssignPlanShape:
    def test_no_window_in_assign(self, spark, sf):
        """ivf_assign's argmax must be the combinable max(struct) agg,
        never a row_number window over the N x C scored join — the
        window shuffles every (vector, centroid) pair wide."""
        from tomasz_weight_tracker_spark.operators import similarity as S

        e = spark.read.parquet(f"{sf}/embeddings.parquet")
        cents = e.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        out = S.ivf_assign(e, cents)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        assert "HashAggregate" in plan or "SortAggregate" in plan
        # determinism + correctness vs the brute-force argmax
        from tomasz_weight_tracker_spark.operators.similarity import dot

        got = {r["vec_id"]: r["centroid_id"] for r in out.collect()}
        brute = e.join(
            F.broadcast(cents.select(F.col("centroid_id").alias("cid"),
                                     F.col("embedding").alias("cv")))
        ).select(
            "vec_id", "cid",
            dot(F.col("embedding").cast("array<double>"),
                F.col("cv").cast("array<double>")).alias("s"),
        )
        import collections

        best: dict = {}
        for r in brute.collect():
            k = r["vec_id"]
            cand = (r["s"], -r["cid"])
            if k not in best or cand > best[k]:
                best[k] = cand
        assert got == {k: -v[1] for k, v in best.items()}
