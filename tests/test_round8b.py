"""Round-8b operators: unaligned duplicated-passage extraction, the
PQ/ADC recall audit, and corpus-wide BPE token accounting."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tomasz_weight_tracker_spark.plans import REGISTRY
from tomasz_weight_tracker_spark.plans.similarity_ann import PQA_N, PQA_TOPK
from tomasz_weight_tracker_spark.plans.dedup_lsh import PSPAN_K, PSPAN_MIN


@pytest.fixture
def sf_small(sf_path):
    return sf_path("sf0.001")


@pytest.fixture(scope="module")
def synth_docs_dir(spark, tmp_path_factory):
    """Three documents: A and B share one exact 31-token passage at
    DIFFERENT offsets (the unaligned case a chunk-aligned deduper
    structurally misses); C is unrelated."""
    root = str(tmp_path_factory.mktemp("pspan"))
    shared = [f"s{i}" for i in range(31)]
    a = [f"a{i}" for i in range(9)] + shared + [f"a{i}" for i in range(9, 14)]
    b = [f"b{i}" for i in range(3)] + shared + [f"b{i}" for i in range(3, 20)]
    c = [f"c{i}" for i in range(40)]
    rows = [
        (0, " ".join(a), "en", "synthA", len(" ".join(a))),
        (1, " ".join(b), "en", "synthB", len(" ".join(b))),
        (2, " ".join(c), "en", "synthC", len(" ".join(c))),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{root}/documents.parquet")
    return root


class TestDupPassageSpans:
    def test_synthetic_unaligned_passage(self, spark, synth_docs_dir):
        # Exactly one span: the shared block, at 1-based token offsets
        # 10 (doc A) and 4 (doc B), 31 tokens long — maximal on both
        # sides because the flanking tokens differ.
        rows = REGISTRY["dup_passage_spans"].build(spark, synth_docs_dir).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r.id_a, r.id_b) == (0, 1)
        assert (r.a_start, r.b_start, r.span_toks) == (10, 4, 31)

    def test_spans_are_verbatim_and_maximal(self, spark, sf_small):
        # Every reported span on the real corpus must be (1) verbatim —
        # the token windows match exactly — and (2) maximal — extending
        # one token left or right breaks the match or a boundary.
        spans = REGISTRY["dup_passage_spans"].build(spark, sf_small).collect()
        assert spans, "sf0.001 corpus is known to contain shared passages"
        docs = {
            r["doc_id"]: r["toks"]
            for r in spark.read.parquet(f"{sf_small}/documents.parquet")
            .select(
                "doc_id",
                F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks"),
            )
            .collect()
        }
        for s in spans:
            ta, tb = docs[s.id_a], docs[s.id_b]
            ia, ib, n = s.a_start - 1, s.b_start - 1, s.span_toks
            assert n >= PSPAN_MIN
            assert ta[ia : ia + n] == tb[ib : ib + n]
            if ia > 0 and ib > 0:
                assert ta[ia - 1] != tb[ib - 1], "span extendable left"
            if ia + n < len(ta) and ib + n < len(tb):
                assert ta[ia + n] != tb[ib + n], "span extendable right"

    def test_no_self_pairs_and_ordered(self, spark, sf_small):
        spans = REGISTRY["dup_passage_spans"].build(spark, sf_small).collect()
        assert all(s.id_a < s.id_b for s in spans)


class TestDupPassageRebuild:
    def test_later_doc_loses_the_passage(self, spark, synth_docs_dir):
        # Keep-first: doc 0 (id_a) is untouched; doc 1 loses exactly
        # the 31 shared tokens and keeps its own 20 in order.
        rows = REGISTRY["dup_passage_rebuild"].build(spark, synth_docs_dir).collect()
        assert len(rows) == 1
        r = rows[0]
        assert r.doc_id == 1
        assert (r.n_toks, r.n_dropped) == (51, 31)
        assert r.kept_text == " ".join(
            [f"b{i}" for i in range(3)] + [f"b{i}" for i in range(3, 20)]
        )

    def test_rebuild_consistent_with_spans(self, spark, sf_small):
        # Every affected doc's drop count equals the size of the union
        # of its id_b-side span ranges (overlap-safe), and the kept
        # text is the complement of those positions in order.
        spans = REGISTRY["dup_passage_spans"].build(spark, sf_small).collect()
        rebuilt = {
            r.doc_id: r
            for r in REGISTRY["dup_passage_rebuild"].build(spark, sf_small).collect()
        }
        drop: dict[int, set[int]] = {}
        for s in spans:
            drop.setdefault(s.id_b, set()).update(
                range(s.b_start, s.b_start + s.span_toks)
            )
        assert set(rebuilt) == set(drop)
        docs = {
            r["doc_id"]: r["toks"]
            for r in spark.read.parquet(f"{sf_small}/documents.parquet")
            .select(
                "doc_id",
                F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks"),
            )
            .collect()
        }
        for d, positions in drop.items():
            r = rebuilt[d]
            assert r.n_dropped == len(positions)
            expect = " ".join(
                t for i, t in enumerate(docs[d], start=1) if i not in positions
            )
            assert r.kept_text == expect


class TestPqRecallAudit:
    def test_audit_invariants(self, spark, sf_small):
        r = REGISTRY["pq_recall_audit"].build(spark, sf_small).collect()
        assert len(r) == 1
        r = r[0]
        assert r.n_queries == PQA_N and r.k == PQA_TOPK
        assert r.n_true == PQA_N * PQA_TOPK
        assert 0 <= r.n_hit <= r.n_true
        assert 0 <= r.n_top1_hit <= r.n_queries
        assert r.recall_ppm == r.n_hit * 1_000_000 // r.n_true
        # PQ with a 4x16 codebook is lossy but not useless: top-1
        # neighbors survive at well above the ~2% random-overlap floor.
        assert r.n_hit > 0


class TestPassageSpanProperties:
    def test_planted_spans_recovered(self, spark, tmp_path):
        # Deterministic planted-span corpus: unique filler tokens per
        # doc (no accidental grams), one shared block per pair at
        # arbitrary offsets — the detector must recover each planted
        # span exactly, regardless of offset alignment.
        import itertools

        plants = [  # (len_a_prefix, len_b_prefix, span_len)
            (0, 5, 16),   # span at the very start of doc a
            (7, 0, 23),   # and at the very start of doc b
            (11, 3, 40),  # interior both sides
        ]
        rows = []
        uid = itertools.count()
        expected = []
        for j, (pa, pb, n) in enumerate(plants):
            shared = [f"s{j}x{i}" for i in range(n)]
            a = [f"u{next(uid)}" for _ in range(pa)] + shared + [
                f"u{next(uid)}" for _ in range(4)
            ]
            b = [f"u{next(uid)}" for _ in range(pb)] + shared + [
                f"u{next(uid)}" for _ in range(4)
            ]
            ia, ib = 2 * j, 2 * j + 1
            rows.append((ia, " ".join(a), "en", "p", len(" ".join(a))))
            rows.append((ib, " ".join(b), "en", "p", len(" ".join(b))))
            expected.append((ia, ib, pa + 1, pb + 1, n))
        root = str(tmp_path)
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.parquet(f"{root}/documents.parquet")
        got = sorted(
            map(tuple, REGISTRY["dup_passage_spans"].build(spark, root).collect())
        )
        assert got == sorted(expected)


class TestDecileCutValues:
    def test_cuts_are_order_statistics(self, spark, sf_small):
        import math

        rows = REGISTRY["decile_cut_values"].build(spark, sf_small).collect()
        by_type: dict[str, dict[int, float]] = {}
        for r in rows:
            by_type.setdefault(r.event_type, {})[r.decile] = r.cut_value
        vals = (
            spark.read.parquet(f"{sf_small}/events.parquet")
            .filter(F.col("value").isNotNull())
            .select("event_type", "value")
            .collect()
        )
        groups: dict[str, list[float]] = {}
        for r in vals:
            groups.setdefault(r.event_type, []).append(r.value)
        assert set(by_type) == set(groups)
        for et, vs in groups.items():
            vs.sort()
            n = len(vs)
            for d in range(1, 10):
                k = math.ceil(d * n / 10)
                assert by_type[et][d] == vs[k - 1], (et, d)


class TestEvalDecontamSpans:
    def test_roles_and_verbatim_evidence(self, spark, sf_small):
        from tomasz_weight_tracker_spark.plans.dedup_lsh import DECON_EVAL_MOD

        rows = REGISTRY["eval_decontam_spans"].build(spark, sf_small).collect()
        assert rows
        docs = {
            r["doc_id"]: r["toks"]
            for r in spark.read.parquet(f"{sf_small}/documents.parquet")
            .select(
                "doc_id",
                F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks"),
            )
            .collect()
        }
        for s in rows:
            assert s.eval_id % DECON_EVAL_MOD == 0
            assert s.train_id % DECON_EVAL_MOD != 0
            te, tt = docs[s.eval_id], docs[s.train_id]
            ie, it, n = s.eval_start - 1, s.train_start - 1, s.span_toks
            assert n >= PSPAN_MIN
            assert te[ie : ie + n] == tt[it : it + n]


class TestTermProximitySearch:
    def test_hits_verified_against_raw_positions(self, spark, sf_small):
        from tomasz_weight_tracker_spark.plans.similarity_ann import PROX_WINDOW

        rows = REGISTRY["term_proximity_search"].build(spark, sf_small).collect()
        assert rows
        terms = {(r.term_a, r.term_b) for r in rows}
        assert len(terms) == 1  # one probe pair, corpus-derived
        ta, tb = terms.pop()
        assert all(1 <= r.min_gap <= PROX_WINDOW and r.n_pairs >= 1 for r in rows)
        # Recompute one document's pair count from raw token positions.
        r0 = min(rows, key=lambda r: r.doc_id)
        toks = (
            spark.read.parquet(f"{sf_small}/documents.parquet")
            .filter(F.col("doc_id") == r0.doc_id)
            .select(F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t"))
            .collect()[0]["t"]
        )
        pa = [i for i, w in enumerate(toks, 1) if w == ta]
        pb = [i for i, w in enumerate(toks, 1) if w == tb]
        pairs = [(x, y) for x in pa for y in pb if abs(x - y) <= PROX_WINDOW]
        assert r0.n_pairs == len(pairs)
        assert r0.min_gap == min(abs(x - y) for x, y in pairs)


class TestIvfadcTopk:
    def test_ranking_shape_and_cell_pruning(self, spark, sf_small):
        from tomasz_weight_tracker_spark.operators.similarity import (
            dot,
            ivf_assign,
            ivf_train,
        )
        from tomasz_weight_tracker_spark.plans.catalog import load
        from tomasz_weight_tracker_spark.plans.similarity_ann import (
            IVFADC_COARSE,
            IVFADC_NPROBE,
            IVFADC_NQ,
            IVFADC_TOPK,
        )

        rows = REGISTRY["embed_ivfadc_topk"].build(spark, sf_small).collect()
        byq: dict[int, list] = {}
        for r in rows:
            byq.setdefault(r.q_id, []).append(r)
        assert set(byq) == set(range(IVFADC_NQ))
        for q, rs in byq.items():
            rs.sort(key=lambda r: r.rank)
            assert [r.rank for r in rs] == list(range(1, IVFADC_TOPK + 1))
            dists = [r.adc_dist for r in rs]
            assert dists == sorted(dists) and all(d >= 0 for d in dists)
            assert all(r.neighbor_id != q for r in rs)

        # The pruning claim: every returned neighbor lives in one of
        # the query's nprobe probed coarse cells.
        e = load(spark, sf_small, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        coarse = ivf_train(e, n_centroids=IVFADC_COARSE)
        cells = {
            r.vec_id: r.centroid_id for r in ivf_assign(e, coarse).collect()
        }
        cents = {r.centroid_id: r.embedding for r in coarse.collect()}
        qvecs = {
            r.vec_id: r.embedding
            for r in e.filter(F.col("vec_id") < IVFADC_NQ).collect()
        }
        for q, rs in byq.items():
            scores = sorted(
                (
                    (-sum(a * b for a, b in zip(qvecs[q], cv)), cid)
                    for cid, cv in cents.items()
                ),
            )[:IVFADC_NPROBE]
            probed = {cid for _, cid in scores}
            assert all(cells[r.neighbor_id] in probed for r in rs)


class TestIvfadcRecallAudit:
    def test_audit_invariants_and_comparability(self, spark, sf_small):
        r = REGISTRY["ivfadc_recall_audit"].build(spark, sf_small).collect()
        assert len(r) == 1
        r = r[0]
        assert r.n_queries == PQA_N and r.k == PQA_TOPK
        assert r.n_true == PQA_N * PQA_TOPK
        assert 0 <= r.n_hit <= r.n_true
        assert 0 <= r.n_top1_hit <= r.n_queries
        assert r.recall_ppm == r.n_hit * 1_000_000 // r.n_true
        # Same sample and same exact ground truth as pq_recall_audit,
        # so the two rows decompose the recall budget comparably.
        p = REGISTRY["pq_recall_audit"].build(spark, sf_small).collect()[0]
        assert (p.n_queries, p.n_true) == (r.n_queries, r.n_true)


class TestTrainingShardWrite:
    def test_roundtrip_manifest_and_contiguous_files(self, spark, sf_small):
        from pyspark.sql import functions as SF

        from tomasz_weight_tracker_spark.session import fixed_scratch_dir

        manifest = sorted(
            map(tuple, REGISTRY["training_shard_write"].build(spark, sf_small).collect())
        )
        direct = sorted(
            map(tuple, REGISTRY["corpus_shuffle_shards"].build(spark, sf_small).collect())
        )
        assert manifest == direct
        # Each physical file must hold a CONTIGUOUS, non-overlapping
        # run of (shard_id, gs) — the range-partitioned training order.
        back = spark.read.parquet(f"{fixed_scratch_dir('shards')}/shards")
        ranges = (
            back.groupBy(SF.input_file_name().alias("f"))
            .agg(
                SF.min(SF.struct("shard_id", "gs")).alias("lo"),
                SF.max(SF.struct("shard_id", "gs")).alias("hi"),
            )
            .collect()
        )
        spans = sorted((tuple(r.lo), tuple(r.hi)) for r in ranges)
        for (_, hi), (lo2, _) in zip(spans, spans[1:]):
            assert hi <= lo2, "file shard ranges overlap"


class TestIncrementalShardManifest:
    def test_append_only_growth_with_carry_shards(self, spark, sf_small):
        rows = REGISTRY["incremental_shard_manifest"].build(spark, sf_small).collect()
        assert rows
        rows.sort(key=lambda r: r.shard_id)
        # Contiguous shard ids from 0; batches are non-decreasing along
        # the shard sequence (later refreshes only ever append).
        assert [r.shard_id for r in rows] == list(range(len(rows)))
        assert all(r.first_batch <= r.last_batch for r in rows)
        fb = [r.first_batch for r in rows]
        assert fb == sorted(fb)
        # The refresh boundaries are not shard-aligned, so at least one
        # carry shard spans two refreshes.
        assert any(r.first_batch < r.last_batch for r in rows)


class TestBpeCorpusTokens:
    def test_accounting_invariants(self, spark, sf_small):
        rows = REGISTRY["bpe_corpus_tokens"].build(spark, sf_small).collect()
        assert rows
        for r in rows:
            # Each qualifying word is >= 2 chars, and BPE tokens can
            # never exceed character count nor undercut 1 per word.
            assert r.n_words <= r.bpe_tokens <= r.n_chars
            assert r.n_docs > 0 and r.n_words > 0
            assert r.chars_per_token_ppm == r.n_chars * 1_000_000 // r.bpe_tokens
            # 8 merge rounds compress, so strictly under raw chars.
            assert r.bpe_tokens < r.n_chars
