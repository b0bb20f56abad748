"""Unit tests for dedup (exact, MinHash/LSH, SimHash, Jaccard) and
embedding similarity search operators."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tomasz_weight_tracker_spark.operators import dedup as D
from tomasz_weight_tracker_spark.operators import similarity as S


class TestDedupKeepLast:
    def test_keeps_highest_order(self, spark):
        rows = [("k", 1, "old"), ("k", 2, "new"), ("j", 5, "only")]
        df = spark.createDataFrame(rows, "key string, seq int, v string")
        out = D.dedup_keep_last(df, ["key"], [F.col("seq")])
        got = {r.key: r.v for r in out.collect()}
        assert got == {"k": "new", "j": "only"}
        assert "__rn" not in out.columns


class TestMinHashLsh:
    def test_identical_docs_share_all_bands(self, spark):
        rows = [(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "zzz yyy xxx www")]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        sig = D.minhash_signature(df, "text", k=8)
        pairs = {(r.id_a, r.id_b) for r in D.lsh_candidate_pairs(sig, "doc_id", k=8, bands=2).collect()}
        assert (1, 2) in pairs
        assert (1, 3) not in pairs and (2, 3) not in pairs

    def test_signature_is_order_insensitive(self, spark):
        # MinHash is over the token SET, so word order must not matter.
        rows = [(1, "alpha beta gamma"), (2, "gamma alpha beta")]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        sig = D.minhash_signature(df, "text", k=4).collect()
        s1 = [r for r in sig if r.doc_id == 1][0]
        s2 = [r for r in sig if r.doc_id == 2][0]
        assert [s1[f"mh{i}"] for i in range(4)] == [s2[f"mh{i}"] for i in range(4)]

    def test_wide_signature_stays_in_int64(self, spark):
        # h1 (60-bit) + salt * h2 (56-bit) must never overflow a signed
        # 64-bit long for the supported salt range: every value is
        # non-negative (overflow would wrap negative in the JVM).
        df = spark.createDataFrame([(1, "x y z w v u t s r q")], "doc_id int, text string")
        sig = D.minhash_signature(df, "text", k=32).collect()[0]
        assert all(sig[f"mh{i}"] >= 0 for i in range(32))

    def test_identical_cluster_over_cap_is_output_bound(self, spark):
        # 80 identical docs form an over-cap bucket in EVERY band that
        # no amount of signature splitting can shatter (all 16 hashes
        # equal).  Round-8 semantics: every pair in such a cluster IS a
        # true near-dup (16/16 agreement), so the full quadratic pair
        # set is the query's own output and is emitted exactly once —
        # not dropped (the round-7 rule's 0.45% recall collapse), and
        # not duplicated across the 4 bands.
        rows = [(i, "common filler tokens here") for i in range(80)]
        rows += [(100, "rare unique doc alpha beta"), (101, "rare unique doc alpha beta")]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        sig = D.minhash_signature(df, "text", k=16)
        out = D.lsh_candidate_pairs(
            sig, "doc_id", k=16, bands=4, max_bucket=10
        ).collect()
        got = {(r.id_a, r.id_b) for r in out}
        assert (100, 101) in got
        cluster = [(a, b) for a, b in got if a < 100]
        assert len(cluster) == 80 * 79 // 2  # all-pairs, emitted once
        assert len(out) == len(got)  # no cross-band duplicates
        assert all(
            r.sig_matches == 16 for r in out if r.id_a < 100
        )  # every cluster pair verifies at full agreement

    def test_over_cap_mixed_bucket_splits_bounded(self, spark):
        # A hot band bucket whose members are NOT near-dups must be
        # SPLIT, not emitted quadratically: 40 synthetic signatures
        # share band 0 (mh0..3) but fall into 4 groups of 10 on mh4
        # (the first split position), with every other hash unique per
        # doc.  cap=10: the 40-bucket splits into four 10-buckets, so
        # only within-group pairs are emitted — 4*45=180, not 780.
        rows = []
        for i in range(40):
            sig = [7, 8, 9, 10]          # shared band 0
            sig.append(i // 10)          # mh4: four groups of 10
            sig += [1000 + 100 * i + j for j in range(11)]  # mh5..15 unique
            rows.append((i, *sig))
        cols = "doc_id int, " + ", ".join(f"mh{i} long" for i in range(16))
        df = spark.createDataFrame(rows, cols)
        got = {
            (r.id_a, r.id_b)
            for r in D.lsh_candidate_pairs(
                df, "doc_id", k=16, bands=4, max_bucket=10
            ).collect()
        }
        assert len(got) == 4 * 45
        assert all(a // 10 == b // 10 for a, b in got)

    def test_probe_batching_invariance(self, spark):
        # Fold a corpus through the store in 2 batches; the union of
        # the probe emissions must equal the one-shot uncapped
        # verified run — every predicate in the emission rule is
        # pairwise, so this is a theorem the test pins down.
        rows = [(i, "shared near duplicate text body") for i in range(6)]
        rows += [(10 + i, f"unique document {i} {i*13}") for i in range(6)]
        rows += [(20, "shared near duplicate text body extra")]
        docs = spark.createDataFrame(rows, "doc_id int, text string")
        sig = D.minhash_signature(docs, "text", k=16).drop("text")

        oneshot = {
            (r.id_a, r.id_b)
            for r in D.lsh_probe_pairs(
                sig.withColumn("is_new", F.lit(True)),
                "is_new", "doc_id", k=16, bands=4, verify_min=12,
            ).collect()
        }
        folded = set()
        for batch in range(2):
            flagged = sig.withColumn("is_new", F.col("doc_id") % 2 == batch)
            # store at refresh `batch` = docs from batches <= batch
            seen = flagged.filter(
                (F.col("doc_id") % 2 == batch) | (F.lit(batch) == 1)
            )
            out = D.lsh_probe_pairs(
                seen, "is_new", "doc_id", k=16, bands=4, verify_min=12
            ).collect()
            for r in out:
                assert (r.id_a, r.id_b) not in folded  # fires exactly once
                folded.add((r.id_a, r.id_b))
        assert folded == oneshot
        assert any(a < 10 and b < 10 for a, b in oneshot)  # dups found

    def test_probe_never_repairs_history(self, spark):
        # Second refresh with NO new near-dups: the historical
        # identical cluster must not re-emit.
        rows = [(i, "same text cluster") for i in range(4)]
        rows += [(10, "completely different words entirely")]
        docs = spark.createDataFrame(rows, "doc_id int, text string")
        sig = D.minhash_signature(docs, "text", k=16).drop("text")
        out = D.lsh_probe_pairs(
            sig.withColumn("is_new", F.col("doc_id") == 10),
            "is_new", "doc_id", k=16, bands=4, verify_min=12,
        ).collect()
        assert out == []

    def test_probe_assign_min_fold_equals_oneshot(self, spark):
        # Fold assignment updates through 3 batches where SMALLER ids
        # arrive LATER (residue batches in descending order), min-merge
        # per doc, and compare with GROUP BY id_b MIN(id_a) over the
        # one-shot uncapped probe-pair run — the exactness claim of
        # lsh_probe_assign's docstring.
        rows = [(i, "shared near duplicate text body") for i in range(6)]
        rows += [(10 + i, f"unique document {i} {i*13}") for i in range(6)]
        rows += [(20, "shared near duplicate text body extra")]
        docs = spark.createDataFrame(rows, "doc_id int, text string")
        sig = D.minhash_signature(docs, "text", k=16).drop("text")

        oneshot_pairs = D.lsh_probe_pairs(
            sig.withColumn("is_new", F.lit(True)),
            "is_new", "doc_id", k=16, bands=4, verify_min=12,
        ).collect()
        expect: dict[int, int] = {}
        for r in oneshot_pairs:
            expect[r.id_b] = min(expect.get(r.id_b, r.id_a), r.id_a)

        folded: dict[int, int] = {}
        arrived: list[int] = []
        for batch in (2, 1, 0):  # descending: small ids arrive last
            ids = [i for i, _ in rows if i % 3 == batch]
            arrived += ids
            seen = sig.filter(F.col("doc_id").isin(arrived)).withColumn(
                "is_new", F.col("doc_id").isin(ids)
            )
            out = D.lsh_probe_assign(
                seen, "is_new", "doc_id", k=16, bands=4, verify_min=12
            ).collect()
            for r in out:
                folded[r.doc_id] = min(folded.get(r.doc_id, r.dup_of), r.dup_of)
        assert folded == expect
        assert expect  # dups actually found

    def test_probe_assign_output_linear_in_cluster(self, spark):
        # 80 identical docs in one refresh: the pair relation is 3160
        # rows; the assignment relation is 79 (every non-min member ->
        # cluster min).  This is the bounded-output property.
        rows = [(i, "same text for everyone") for i in range(80)]
        docs = spark.createDataFrame(rows, "doc_id int, text string")
        sig = D.minhash_signature(docs, "text", k=16).drop("text")
        out = D.lsh_probe_assign(
            sig.withColumn("is_new", F.lit(True)),
            "is_new", "doc_id", k=16, bands=4, verify_min=12,
        ).collect()
        assert len(out) == 79
        assert all(r.dup_of == 0 and r.doc_id > 0 for r in out)

    def test_probe_assign_late_smaller_arrival_updates_old_doc(self, spark):
        # Refresh 1: doc 50 alone.  Refresh 2: identical doc 10
        # arrives.  The OLD doc 50 must receive the update (50 -> 10);
        # doc 10 has no smaller neighbor and must not appear.
        docs = spark.createDataFrame(
            [(50, "identical payload text"), (10, "identical payload text")],
            "doc_id int, text string",
        )
        sig = D.minhash_signature(docs, "text", k=16).drop("text")
        first = D.lsh_probe_assign(
            sig.filter(F.col("doc_id") == 50).withColumn("is_new", F.lit(True)),
            "is_new", "doc_id", k=16, bands=4, verify_min=12,
        ).collect()
        assert first == []
        second = D.lsh_probe_assign(
            sig.withColumn("is_new", F.col("doc_id") == 10),
            "is_new", "doc_id", k=16, bands=4, verify_min=12,
        ).collect()
        assert [(r.doc_id, r.dup_of) for r in second] == [(50, 10)]

    def test_probe_assign_no_new_emits_nothing(self, spark):
        # A refresh whose batch touches no near-dup cluster must not
        # re-derive assignments for history.
        rows = [(i, "same text cluster") for i in range(4)]
        rows += [(10, "completely different words entirely")]
        docs = spark.createDataFrame(rows, "doc_id int, text string")
        sig = D.minhash_signature(docs, "text", k=16).drop("text")
        out = D.lsh_probe_assign(
            sig.withColumn("is_new", F.col("doc_id") == 10),
            "is_new", "doc_id", k=16, bands=4, verify_min=12,
        ).collect()
        assert out == []

    def test_dedup_edges_star_collapse(self, spark):
        # The cluster-level consumer shape: 80 identical docs emit 79
        # rep->member star edges (linear), NOT 3160 all-pairs; the
        # 2-doc identical cluster emits one star edge; no 'near'
        # edges unless distinct signatures collide on a band AND pass
        # the verify gate.
        rows = [(i, "common filler tokens here") for i in range(80)]
        rows += [(100, "rare unique doc alpha beta"), (101, "rare unique doc alpha beta")]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        sig = D.minhash_signature(df, "text", k=16)
        out = D.lsh_dedup_edges(
            sig, "doc_id", k=16, bands=4, max_bucket=10, verify_min=12
        ).collect()
        stars = {(r.src_id, r.dst_id) for r in out if r.kind == "exact"}
        assert stars == {(0, i) for i in range(1, 80)} | {(100, 101)}
        assert all(r.sig_matches == 16 for r in out if r.kind == "exact")
        # near edges connect only cluster REPS (members are collapsed)
        assert all(
            r.src_id in (0, 100) and r.dst_id in (0, 100)
            for r in out
            if r.kind == "near"
        )

    def test_aqe_splits_skewed_band_join(self, spark):
        """SCALE.md claims skewed buckets of the refresh probe's
        uncapped rep-level band join are handled by AQE skew-join
        splitting.  Pin it: build a probe with one hot band bucket,
        force the sort-merge path with scaled-down skew thresholds (the
        local-mode stand-in for 256 MB partitions), execute, and assert
        the skew split actually fired."""
        confs = {
            # 8 reduce partitions give the skew detector a meaningful
            # median (4 partitions put cold keys next to the hot one).
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "128b",
        }
        saved = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            # One hot band-0 bucket among many cold ones.  The hot
            # signatures must be DISTINCT (identical ones collapse to a
            # single representative before the band join): 150 docs
            # share mh0..3 and are unique elsewhere; 50 cold docs are
            # unique everywhere.  Skew detection depends on where the
            # keys hash, and this data puts the hot key in a partition
            # the detector flags.
            rows = [
                (i, True, *([7] * 4 + [1000 + 16 * i + j for j in range(12)]))
                for i in range(150)
            ]
            rows += [
                (10000 + i, True, *[900000 + 16 * i + j for j in range(16)])
                for i in range(50)
            ]
            cols = "doc_id int, is_new boolean, " + ", ".join(
                f"mh{i} long" for i in range(16)
            )
            sig = spark.createDataFrame(rows, cols)
            pairs = D.lsh_probe_pairs(sig, "is_new", "doc_id", k=16, bands=4)
            # Materialize THIS DataFrame's own query execution: AQE
            # finalizes (and records the skew split) per-execution, so
            # a derived count() would leave this plan un-adapted.
            pairs.collect()
            plan = pairs._jdf.queryExecution().executedPlan().toString()
            assert "skew=true" in plan, plan[:4000]
            assert "AQEShuffleRead skewed" in plan
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    def test_no_cap_when_disabled(self, spark):
        rows = [(i, "same text every time") for i in range(5)]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        sig = D.minhash_signature(df, "text", k=16)
        got = D.lsh_candidate_pairs(
            sig, "doc_id", k=16, bands=4, max_bucket=5
        ).count()
        assert got == 10  # 5*4/2 all-pairs of identical docs

    @staticmethod
    def _seeded_sigs(seed, n=48, k=16, dups=12):
        # Small per-position alphabet so bands collide often; the last
        # ``dups`` rows copy earlier signatures (identical clusters).
        import random

        rng = random.Random(seed)
        sigs = [[rng.randrange(3) for _ in range(k)] for _ in range(n - dups)]
        sigs += [list(sigs[rng.randrange(len(sigs))]) for _ in range(dups)]
        return {i: s for i, s in enumerate(sigs)}

    @staticmethod
    def _brute_banding(sigs, k=16, bands=4):
        rpb = k // bands
        out = set()
        for a in sigs:
            for b in sigs:
                sa, sb = sigs[a], sigs[b]
                if a < b and any(
                    sa[j * rpb:(j + 1) * rpb] == sb[j * rpb:(j + 1) * rpb]
                    for j in range(bands)
                ):
                    out.add((a, b, sum(x == y for x, y in zip(sa, sb))))
        return out

    def _pairs(self, spark, sigs, max_bucket):
        cols = "doc_id int, " + ", ".join(f"mh{i} long" for i in range(16))
        df = spark.createDataFrame([(i, *s) for i, s in sigs.items()], cols)
        out = D.lsh_candidate_pairs(
            df, "doc_id", k=16, bands=4, max_bucket=max_bucket
        ).collect()
        got = {(r.id_a, r.id_b, r.sig_matches) for r in out}
        assert len(got) == len(out)  # distinct pairs
        return got

    def test_uncapped_equals_brute_force_banding(self, spark):
        # A cap of at least the number of documents never splits a
        # bucket: the collapse-first path must then be plain banding.
        for seed in (1, 2):
            sigs = self._seeded_sigs(seed)
            ref = self._brute_banding(sigs)
            assert self._pairs(spark, sigs, len(sigs)) == ref
            assert any(m == 16 for _, _, m in ref)  # identical pairs present
            assert any(m < 16 for _, _, m in ref)  # and near ones

    def test_small_cap_is_subset_keeping_identical_pairs(self, spark):
        # Splitting only drops candidates; identical signatures
        # collapse before banding, so their pairs always survive.
        for seed in (1, 2):
            sigs = self._seeded_sigs(seed)
            ref = self._brute_banding(sigs)
            got = self._pairs(spark, sigs, 2)
            assert got <= ref
            assert got < ref  # the cap did split something
            assert {p for p in ref if p[2] == 16} <= got


class TestFuzzyBlocking:
    """Round-5 fix: the fuzzy edit-distance join's candidate blocking
    must be CAPPED (round-4 verdict: first-token-only blocking with no
    cap goes quadratic per hot token at corpus scale)."""

    def test_hot_block_dropped_bounded_emission(self, spark):
        from tomasz_weight_tracker_spark.plans.dedup_lsh import fuzzy_candidate_pairs

        # 600 same-first-token, same-length names (one hot block, over
        # any small cap) + one honest typo pair in a cold block.
        rows = [(f"azure metal plate nr {i:04d}",) for i in range(600)]
        rows += [("rose gold hinge",), ("rose gold hinge",)]  # distinct-ed away
        rows += [("rose gold hinges",)]
        names = spark.createDataFrame(rows, "name string").distinct()
        pairs = fuzzy_candidate_pairs(names, max_block=32).collect()
        got = {(r.name_a, r.name_b) for r in pairs}
        # The hot block emits NOTHING (600 > 32 in both probe buckets);
        # the cold typo pair survives.
        assert ("rose gold hinge", "rose gold hinges") in got
        assert all(not a.startswith("azure") for a, _ in got), got

    def test_length_probe_keeps_cross_bucket_pairs(self, spark):
        from tomasz_weight_tracker_spark.plans.dedup_lsh import fuzzy_candidate_pairs

        # Lengths 15 and 17 (buckets 7 and 8 at width 2): same first
        # token, dist 2 — must still be a candidate via the probe arm.
        names = spark.createDataFrame(
            [("teal widget nut",), ("teal widget nutty",)], "name string"
        )
        got = {(r.name_a, r.name_b) for r in fuzzy_candidate_pairs(names).collect()}
        assert ("teal widget nut", "teal widget nutty") in got

    def test_uncapped_when_disabled(self, spark):
        from tomasz_weight_tracker_spark.plans.dedup_lsh import fuzzy_candidate_pairs

        rows = [(f"plum brass bolt {i:02d}",) for i in range(10)]
        names = spark.createDataFrame(rows, "name string")
        assert fuzzy_candidate_pairs(names, max_block=None).count() == 45


class TestSimHash:
    def test_identical_equal_and_disjoint_differ(self, spark):
        rows = [(1, "aa bb cc dd"), (2, "aa bb cc dd"), (3, "qq rr ss tt uu vv")]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        toks = F.split(F.lower(F.col("text")), r"\s+")
        out = {r.doc_id: r.sh for r in df.select("doc_id", D.simhash_exprs(toks).alias("sh")).collect()}
        assert out[1] == out[2]
        assert 0 <= out[1] < 2**16
        assert out[1] != out[3]


class TestJaccard:
    def test_known_values(self, spark):
        rows = [
            ("a b c", "b c d"),  # |∩|=2, |∪|=4 -> 0.5
            ("a a b", "a b"),  # sets equal -> 1.0
            ("a", "b"),  # disjoint -> 0.0
            ("", ""),  # both empty -> 0.0 by convention
        ]
        df = spark.createDataFrame(rows, "x string, y string")
        from tomasz_weight_tracker_spark.functions import tokens

        out = [
            r.j
            for r in df.select(
                D.jaccard_exprs(tokens(F.col("x")), tokens(F.col("y"))).alias("j")
            ).collect()
        ]
        assert out == [0.5, 1.0, 0.0, 0.0]


VECS = [
    (0, [1.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0]),
    (2, [0.0, 1.0, 0.0]),
    (3, [0.0, 0.0, 1.0]),
    (4, [0.7, 0.7, 0.0]),
]


class TestBruteForceTopk:
    def test_exact_neighbors(self, spark):
        df = spark.createDataFrame(VECS, "vec_id int, embedding array<double>")
        q = df.filter(F.col("vec_id") == 0)
        out = S.brute_force_topk(q, df, k=2).collect()
        ranked = sorted(out, key=lambda r: r.rank)
        assert [r.neighbor_id for r in ranked] == [1, 4]  # dot: 0.9 then 0.7
        assert math.isclose(ranked[0].score, 0.9)

    def test_self_excluded(self, spark):
        df = spark.createDataFrame(VECS, "vec_id int, embedding array<double>")
        out = S.brute_force_topk(df, df, k=10).collect()
        assert all(r.q_id != r.neighbor_id for r in out)


class TestIvf:
    def test_full_probe_matches_brute_force(self, spark):
        # With nprobe == #centroids IVF degenerates to exact search.
        df = spark.createDataFrame(VECS, "vec_id int, embedding array<double>")
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
            "centroid_id int, embedding array<double>",
        )
        assigned = S.ivf_assign(df, cents)
        q = df.filter(F.col("vec_id") == 0)
        ivf = {(r.q_id, r.neighbor_id, r.rank) for r in S.ivf_topk(q, assigned, cents, k=3).collect()}
        bf = {(r.q_id, r.neighbor_id, r.rank) for r in S.brute_force_topk(q, df, k=3).collect()}
        assert ivf == bf

    def test_assignment_deterministic_argmax(self, spark):
        df = spark.createDataFrame(VECS, "vec_id int, embedding array<double>")
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
            "centroid_id int, embedding array<double>",
        )
        got = {r.vec_id: r.centroid_id for r in S.ivf_assign(df, cents).collect()}
        assert got[0] == 0 and got[1] == 0 and got[2] == 1
        # vec 4 ties (0.7, 0.7): deterministic tiebreak on centroid id.
        assert got[4] == 0


def _clustered_vectors(n_clusters=8, per_cluster=40, dim=16, noise=0.08):
    """Deterministic unit vectors in tight clusters (seeded PRNG)."""
    import math
    import random

    rng = random.Random(42)
    rows, vid = [], 0
    for c in range(n_clusters):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        center = [x / n for x in v]
        for _ in range(per_cluster):
            p = [x + rng.gauss(0, noise) for x in center]
            n = math.sqrt(sum(x * x for x in p))
            rows.append((vid, c, [x / n for x in p]))
            vid += 1
    return rows


class TestIvfTraining:
    def test_trained_centroids_reach_high_recall(self, spark):
        # The recall property that makes IVF an ANN index: on data WITH
        # cluster structure, two Lloyd rounds align buckets with the
        # clusters and nprobe=2 of 8 reaches >=0.9 recall@5 vs brute
        # force.  (The driver's synthetic embeddings table is random on
        # the unit sphere — no index can have high recall there without
        # scanning everything, so the property is asserted on clustered
        # vectors, the workload IVF exists for.)
        rows = _clustered_vectors()
        e = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
        queries = e.filter(F.col("vec_id") % 40 < 3)  # 3 per cluster
        truth: dict = {}
        for r in S.brute_force_topk(queries, e, k=5).collect():
            truth.setdefault(r.q_id, set()).add(r.neighbor_id)

        cents = S.ivf_train(e, n_centroids=8, iterations=2)
        assert cents.count() <= 8
        assigned = S.ivf_assign(e, cents)
        got: dict = {}
        for r in S.ivf_topk(queries, assigned, cents, k=5).collect():
            got.setdefault(r.q_id, set()).add(r.neighbor_id)
        recall = sum(len(truth[q] & got.get(q, set())) for q in truth) / sum(
            len(truth[q]) for q in truth
        )
        assert recall >= 0.9

        # Training matters: UNTRAINED centroids (first 8 vectors — all
        # from one cluster) leave most buckets empty and miss most
        # neighbors at the same nprobe.
        naive = e.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        n_assigned = S.ivf_assign(e, naive)
        n_got: dict = {}
        for r in S.ivf_topk(queries, n_assigned, naive, k=5).collect():
            n_got.setdefault(r.q_id, set()).add(r.neighbor_id)
        naive_recall = sum(len(truth[q] & n_got.get(q, set())) for q in truth) / sum(
            len(truth[q]) for q in truth
        )
        assert naive_recall < recall

    def test_training_is_deterministic(self, spark):
        rows = _clustered_vectors(n_clusters=3, per_cluster=10, dim=8)
        e = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
        c1 = sorted(map(tuple, S.ivf_train(e, 3, 2).collect()))
        c2 = sorted(map(tuple, S.ivf_train(e, 3, 2).collect()))
        assert c1 == c2


class TestProductQuantization:
    def test_codebook_shape_and_determinism(self, spark):
        rows = _clustered_vectors(n_clusters=4, per_cluster=12, dim=8)
        e = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
        c1 = sorted(map(tuple, S.pq_train(e, dim=8, m=2, k=4, iterations=2).collect()))
        c2 = sorted(map(tuple, S.pq_train(e, dim=8, m=2, k=4, iterations=2).collect()))
        assert c1 == c2
        # m x k rows (empty clusters may drop; here 4 tight clusters keep all)
        ms = {r[0] for r in c1}
        assert ms == {0, 1}
        assert all(len(r[2]) == 4 for r in c1)  # subdim components, integers
        assert all(isinstance(x, int) for r in c1 for x in r[2])

    def test_codes_pack_within_bits(self, spark):
        rows = _clustered_vectors(n_clusters=4, per_cluster=12, dim=8)
        e = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
        cents = S.pq_train(e, dim=8, m=2, k=4, iterations=1)
        codes = S.pq_codes(e, cents, dim=8, m=2).collect()
        assert len(codes) == len(rows)
        # PQ_K=16 -> 4 bits/code; m=2 codes -> below 2^8
        assert all(0 <= r.pq_code < 256 for r in codes)

    def test_carry_rides_through_without_changing_codes(self, spark):
        # The carry column must (1) survive to the output with its
        # per-id value and (2) NOT perturb the code assignment — a
        # carry named like a codebook column (centroid_id) previously
        # leaked into the argmin tiebreak; this pins the namespacing.
        from pyspark.sql import functions as F

        rows = _clustered_vectors(n_clusters=4, per_cluster=12, dim=8)
        e = spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<double>"
        ).withColumn("centroid_id", (F.col("vec_id") % 3).cast("int"))
        cents = S.pq_train(e, dim=8, m=2, k=4, iterations=1)
        plain = {r.vec_id: r.pq_code for r in S.pq_codes(e, cents, dim=8, m=2).collect()}
        carried = S.pq_codes(
            e, cents, dim=8, m=2, carry=("centroid_id", "label")
        ).collect()
        assert {r.vec_id: r.pq_code for r in carried} == plain
        assert all(r.centroid_id == r.vec_id % 3 for r in carried)
        labels = {r[0]: r[1] for r in rows}
        assert all(r.label == labels[r.vec_id] for r in carried)

    def test_adc_ranking_tracks_exact_neighbors(self, spark):
        # Same-cluster vectors must dominate each query's ADC top-k:
        # the quantization is per-subspace, so a query's nearest code
        # cells are its own cluster's.
        rows = _clustered_vectors(n_clusters=8, per_cluster=40, dim=16)
        e = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
        label = {r[0]: r[1] for r in rows}
        cents = S.pq_train(e, dim=16, m=4, k=8, iterations=2)
        codes = S.pq_codes(e, cents, dim=16, m=4)
        # reuse the catalog query's ADC shape inline at small scale
        from tomasz_weight_tracker_spark.operators.similarity import (
            _isqdist,
            _qvec,
            _sub,
        )

        subdim = 4
        qsubs = (
            e.filter(F.col("vec_id") % 40 == 0)
            .select(F.col("vec_id").alias("q_id"), _qvec(F.col("embedding")).alias("qv"))
            .select(
                "q_id",
                F.explode(
                    F.array(
                        *[
                            F.struct(F.lit(j).alias("m"), _sub(F.col("qv"), j, subdim).alias("sv"))
                            for j in range(4)
                        ]
                    )
                ).alias("s"),
            )
            .select("q_id", "s.m", "s.sv")
        )
        dtab = qsubs.join(F.broadcast(cents), "m").select(
            "q_id", "m", "centroid_id", _isqdist(F.col("sv"), F.col("qc")).alias("d")
        )
        bits = 4  # PQ_K = 16 default governs packing width in pq_codes
        cand = codes.select(
            F.col("vec_id").alias("neighbor_id"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("m"),
                            F.expr(f"cast((pq_code >> {j * bits}) & 15 as int)").alias(
                                "centroid_id"
                            ),
                        )
                        for j in range(4)
                    ]
                )
            ).alias("c"),
        ).select("neighbor_id", "c.m", "c.centroid_id")
        from pyspark.sql import Window as W

        adc = (
            cand.join(F.broadcast(dtab), ["m", "centroid_id"])
            .filter(F.col("neighbor_id") != F.col("q_id"))
            .groupBy("q_id", "neighbor_id")
            .agg(F.sum("d").alias("adc"))
        )
        w = W.partitionBy("q_id").orderBy("adc", "neighbor_id")
        top = adc.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 10)
        hits = tot = 0
        for r in top.collect():
            tot += 1
            hits += label[r.q_id] == label[r.neighbor_id]
        assert tot > 0 and hits / tot >= 0.9


class TestSemanticDedup:
    """The within-cluster prune logic of plans/dedup_lsh.py:q_semantic_dedup
    on a hand-built fixture (the catalog query itself is parity-gated
    against the Lloyd-replay oracle)."""

    def _run(self, spark, rows, eps_q=300_000_000):
        from tomasz_weight_tracker_spark.plans import dedup_lsh

        mem = spark.createDataFrame(
            rows, "centroid_id int, vec_id long, v array<double>, simcent_q long"
        )
        x, y = mem.alias("x"), mem.alias("y")
        pair_cos_q = F.floor(
            S.cosine(F.col("x.v"), F.col("y.v")) * F.lit(1e9)
        ).cast("long")
        dropped = (
            x.join(
                y,
                (F.col("x.centroid_id") == F.col("y.centroid_id"))
                & (F.col("x.vec_id") != F.col("y.vec_id"))
                & (
                    (F.col("y.simcent_q") < F.col("x.simcent_q"))
                    | (
                        (F.col("y.simcent_q") == F.col("x.simcent_q"))
                        & (F.col("y.vec_id") < F.col("x.vec_id"))
                    )
                ),
            )
            .filter(pair_cos_q >= eps_q)
            .select(F.col("x.vec_id").alias("vec_id"))
            .distinct()
        )
        assert dedup_lsh.SEM_EPS_Q == 300_000_000  # fixture thresholds assume this
        return {r.vec_id for r in dropped.collect()}

    def test_keeps_lowest_centroid_similarity(self, spark):
        # Three near-identical vectors in one cluster with distinct
        # simcent: only the LOWEST-simcent member (id 3) survives.
        v = [1.0, 0.0, 0.0]
        rows = [
            (0, 1, v, 900_000_000),
            (0, 2, v, 800_000_000),
            (0, 3, v, 700_000_000),
        ]
        assert self._run(spark, rows) == {1, 2}

    def test_tie_keeps_smaller_id(self, spark):
        v = [0.0, 1.0, 0.0]
        rows = [(0, 7, v, 5), (0, 9, v, 5)]
        assert self._run(spark, rows) == {9}

    def test_cross_cluster_pairs_never_compared(self, spark):
        # Identical vectors in DIFFERENT clusters are not duplicates:
        # the k-means partition is the candidate generator.
        v = [0.5, 0.5, 0.0]
        rows = [(0, 1, v, 10), (1, 2, v, 20)]
        assert self._run(spark, rows) == set()

    def test_below_eps_kept(self, spark):
        # Orthogonal vectors share a cluster but cosine 0 < eps.
        rows = [(0, 1, [1.0, 0.0], 10), (0, 2, [0.0, 1.0], 20)]
        assert self._run(spark, rows) == set()
