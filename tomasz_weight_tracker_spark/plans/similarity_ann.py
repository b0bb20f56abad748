"""Similarity and ANN catalog queries: product quantization, IVFADC search
and its audits, term proximity, and margin-based bitext mining.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import md5_long, md5_long_sql, tokens
from ..operators import similarity as S
from ..operators.similarity import dot
from .catalog import load, register, trained_ivf_centroids


# ===========================================================================
# Product quantization: codebook training + ADC search (ANN memory path)
# ===========================================================================


def _pq_train_oracle() -> str:
    from ..operators.similarity import sql_pq_chain

    return (
        "WITH " + sql_pq_chain() + "\n    SELECT m, centroid_id, qc FROM cent"
    )


@register(
    "embed_pq_train",
    _pq_train_oracle(),
    survey_ids=("A1",),
    doc="Product-quantization codebook training (Jegou et al. 2011, "
    "public paper) — the ANN memory-compression path: the 64-dim "
    "embedding splits into 4 subspaces, each k-means'd to 16 "
    "centroids (2 Lloyd rounds), so a vector stores as 4x4-bit codes "
    "(2 bytes vs 256 raw — what keeps a 100 TB candidate scan "
    "memory-resident).  Training runs ENTIRELY in the e6-quantized "
    "integer domain (operators/similarity.py:pq_train): integer-L2 "
    "argmin assignment, portable floor-div means, shared md5-min "
    "init sample — so the codebook is bit-identical across engines, "
    "runs, and partitionings, and the oracle replays the identical "
    "rounds as a CTE chain.  Per round: broadcast codebook (M*K "
    "rows), one map-side argmin pass, one (m, centroid)-keyed "
    "aggregation with map-side combine — the corpus never shuffles "
    "on volume (docs/SCALE.md §9).",
)
def q_embed_pq_train(spark, sf_dir):
    from ..operators.similarity import pq_train

    return pq_train(load(spark, sf_dir, "embeddings"))


def _pq_topk_oracle() -> str:
    from ..operators.similarity import PQ_K, sql_pq_chain

    subdim = 16
    isq = (
        f"list_sum(list_transform(range(1, {subdim + 1}), "
        "i -> (sv[i] - qc[i]) * (sv[i] - qc[i])))"
    )
    return (
        "WITH "
        + sql_pq_chain()
        + f""",
    codes AS (SELECT vec_id, m, centroid_id FROM (
        SELECT subs.vec_id, subs.m, c.centroid_id,
               row_number() OVER (PARTITION BY subs.vec_id, subs.m
                   ORDER BY {isq.replace('qc', 'c.qc')}, c.centroid_id) AS rn
        FROM subs JOIN cent c USING (m)) WHERE rn = 1),
    dtab AS (SELECT subs.vec_id AS q_id, c.m, c.centroid_id,
                    {isq.replace('qc', 'c.qc')}::BIGINT AS d
             FROM subs JOIN cent c USING (m) WHERE subs.vec_id < 5),
    adc AS (SELECT dtab.q_id, codes.vec_id AS neighbor_id,
                   sum(dtab.d)::BIGINT AS adc_dist
            FROM codes JOIN dtab USING (m, centroid_id)
            WHERE codes.vec_id <> dtab.q_id
            GROUP BY 1, 2)
    SELECT q_id, neighbor_id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY adc_dist, neighbor_id)::BIGINT AS rank,
           adc_dist
    FROM adc
    QUALIFY rank <= 5"""
    )


@register(
    "embed_pq_topk",
    _pq_topk_oracle(),
    survey_ids=("O5",),
    doc="PQ asymmetric-distance (ADC) top-k search over the trained "
    "codebook: each query builds an exact M x K integer table of "
    "query-to-subcentroid distances (320 rows for 5 queries — always "
    "broadcast), every candidate's approximate distance is the sum "
    "of 4 table lookups through its packed 2-byte code, then a "
    "per-query ascending top-5.  The candidate side touches ONLY "
    "codes after encoding — 8 bytes of shuffle payload per vector "
    "however wide the embedding — which is the entire point of PQ "
    "at 100 TB.  All-integer distances keep the ranking bit-exact; "
    "unit-norm embeddings make integer-L2 order equal cosine order, "
    "so the ADC ranking is comparable to embed_knn's exact ranking "
    "(the recall trade is PQ's documented quantization loss, not an "
    "engine artifact).",
)
def q_embed_pq_topk(spark, sf_dir):
    from ..operators.similarity import (
        PQ_K,
        PQ_M,
        _isqdist,
        _qvec,
        _sub,
        pq_codes,
        pq_train,
    )

    e = load(spark, sf_dir, "embeddings")
    cents = pq_train(e)
    codes = pq_codes(e, cents)

    subdim = 64 // PQ_M
    bits = max((PQ_K - 1).bit_length(), 1)
    qsubs = (
        e.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("q_id"), _qvec(F.col("embedding")).alias("qv"))
        .select(
            "q_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("m"), _sub(F.col("qv"), j, subdim).alias("sv")
                        )
                        for j in range(PQ_M)
                    ]
                )
            ).alias("s"),
        )
        .select("q_id", "s.m", "s.sv")
    )
    dtab = qsubs.join(F.broadcast(cents), "m").select(
        "q_id", "m", "centroid_id", _isqdist(F.col("sv"), F.col("qc")).alias("d")
    )
    cand = codes.select(
        F.col("vec_id").alias("neighbor_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("m"),
                        F.shiftright(F.col("pq_code"), j * bits)
                        .bitwiseAND(F.lit(PQ_K - 1))
                        .cast("int")
                        .alias("centroid_id"),
                    )
                    for j in range(PQ_M)
                ]
            )
        ).alias("c"),
    ).select("neighbor_id", "c.m", "c.centroid_id")
    adc = (
        cand.join(F.broadcast(dtab), ["m", "centroid_id"])
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .groupBy("q_id", "neighbor_id")
        .agg(F.sum("d").cast("long").alias("adc_dist"))
    )
    w = Window.partitionBy("q_id").orderBy("adc_dist", "neighbor_id")
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("q_id", "neighbor_id", "rank", "adc_dist")
    )


# ===========================================================================
# PQ/ADC recall audit (the lsh_recall_audit counterpart for ANN search)
# ===========================================================================

PQA_N = 32  # fixed query-sample size: audit cost is Q*N however big N
PQA_TOPK = 10


def _pq_audit_oracle() -> str:
    from ..operators.similarity import sql_pq_chain

    subdim = 16
    isq_sub = (
        f"list_sum(list_transform(range(1, {subdim + 1}), "
        "i -> (sv[i] - qc[i]) * (sv[i] - qc[i])))"
    )
    isq_full = (
        "list_sum(list_transform(range(1, 65), "
        "i -> (s.qv[i] - c2.qv[i]) * (s.qv[i] - c2.qv[i])))"
    )
    pri = md5_long_sql("'pqa:' || CAST(vec_id AS VARCHAR)")
    return (
        "WITH "
        + sql_pq_chain()
        + f""",
    samp AS (SELECT vec_id FROM (
        SELECT vec_id, row_number() OVER (ORDER BY {pri}, vec_id) AS rn
        FROM e) WHERE rn <= {PQA_N}),
    exact AS (SELECT q_id, neighbor_id, rnk FROM (
        SELECT s.vec_id AS q_id, c2.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY s.vec_id
                   ORDER BY {isq_full}, c2.vec_id) AS rnk
        FROM e s JOIN samp USING (vec_id), e c2
        WHERE c2.vec_id <> s.vec_id) WHERE rnk <= {PQA_TOPK}),
    codes AS (SELECT vec_id, m, centroid_id FROM (
        SELECT subs.vec_id, subs.m, c.centroid_id,
               row_number() OVER (PARTITION BY subs.vec_id, subs.m
                   ORDER BY {isq_sub.replace('qc', 'c.qc')}, c.centroid_id) AS rn
        FROM subs JOIN cent c USING (m)) WHERE rn = 1),
    dtab AS (SELECT subs.vec_id AS q_id, c.m, c.centroid_id,
                    {isq_sub.replace('qc', 'c.qc')}::BIGINT AS d
             FROM subs JOIN samp USING (vec_id) JOIN cent c USING (m)),
    adc AS (SELECT q_id, neighbor_id, rnk FROM (
        SELECT dtab.q_id, codes.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY dtab.q_id
                   ORDER BY sum(dtab.d), codes.vec_id) AS rnk
        FROM codes JOIN dtab USING (m, centroid_id)
        WHERE codes.vec_id <> dtab.q_id
        GROUP BY dtab.q_id, codes.vec_id) WHERE rnk <= {PQA_TOPK}),
    hit AS (SELECT count(*)::BIGINT AS n_hit
            FROM exact JOIN adc USING (q_id, neighbor_id)),
    hit1 AS (SELECT count(*)::BIGINT AS n_top1_hit
             FROM exact JOIN adc USING (q_id, neighbor_id)
             WHERE exact.rnk = 1),
    tr AS (SELECT count(*)::BIGINT AS n_true FROM exact),
    nq AS (SELECT count(*)::BIGINT AS n_queries FROM samp)
    SELECT n_queries, {PQA_TOPK}::BIGINT AS k, n_true, n_hit,
           (n_hit * 1000000 // n_true)::BIGINT AS recall_ppm,
           n_top1_hit
    FROM nq CROSS JOIN tr CROSS JOIN hit CROSS JOIN hit1"""
    )


@register(
    "pq_recall_audit",
    _pq_audit_oracle(),
    survey_ids=("A1", "O5"),
    doc="Measure-don't-guess for the ANN memory path, the "
    "lsh_recall_audit counterpart: EXACT recall@k of the production "
    "PQ/ADC search (same codebook training, same packed-code ADC "
    "ranking as embed_pq_topk) against exact integer-L2 top-k ground "
    f"truth, on a deterministic {PQA_N}-query md5 sample.  Audit "
    "cost is Q*N (one embarrassingly-parallel distance scan per "
    "fixed-size query set) — the shape that stays affordable at "
    "100 TB, where the quantization loss this audit measures is "
    "exactly the number that decides nprobe/re-rank settings.  Both "
    "sides rank all-integer with id tiebreaks, so the overlap count "
    "is bit-portable; recall lands as a ppm integer, with the "
    "exact-top-1-retrieved count as the sharper headline.",
)
def q_pq_recall_audit(spark, sf_dir):
    from ..operators.similarity import (
        PQ_K,
        PQ_M,
        _isqdist,
        _qvec,
        _sub,
        pq_codes,
        pq_train,
    )

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", _qvec(F.col("embedding")).alias("qv")
    )
    samp = (
        e.withColumn(
            "__pri",
            md5_long(F.concat(F.lit("pqa:"), F.col("vec_id").cast("string"))),
        )
        .orderBy("__pri", "vec_id")
        .limit(PQA_N)
        .select(F.col("vec_id").alias("q_id"), F.col("qv").alias("qa"))
        .localCheckpoint(eager=True)
    )

    # Exact side: one broadcast-sample distance scan over the corpus,
    # per-query top-k via a sample-bounded window.
    exact = (
        e.select(F.col("vec_id").alias("neighbor_id"), "qv")
        .join(F.broadcast(samp), F.col("neighbor_id") != F.col("q_id"))
        .select(
            "q_id",
            "neighbor_id",
            _isqdist(F.col("qv"), F.col("qa")).alias("d"),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy("d", "neighbor_id")
            ),
        )
        .filter(F.col("rnk") <= PQA_TOPK)
    )

    # ADC side: the production path — trained codebook, packed codes,
    # broadcast query-to-subcentroid distance table.
    cents = pq_train(e.select("vec_id", "embedding"))
    codes = pq_codes(e.select("vec_id", "embedding"), cents)
    subdim = 64 // PQ_M
    bits = max((PQ_K - 1).bit_length(), 1)
    qsubs = samp.select(
        "q_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("m"),
                        _sub(F.col("qa"), j, subdim).alias("sv"),
                    )
                    for j in range(PQ_M)
                ]
            )
        ).alias("s"),
    ).select("q_id", "s.m", "s.sv")
    dtab = qsubs.join(F.broadcast(cents), "m").select(
        "q_id", "m", "centroid_id", _isqdist(F.col("sv"), F.col("qc")).alias("d")
    )
    cand = codes.select(
        F.col("vec_id").alias("neighbor_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("m"),
                        F.shiftright(F.col("pq_code"), j * bits)
                        .bitwiseAND(F.lit(PQ_K - 1))
                        .cast("int")
                        .alias("centroid_id"),
                    )
                    for j in range(PQ_M)
                ]
            )
        ).alias("c"),
    ).select("neighbor_id", "c.m", "c.centroid_id")
    adc = (
        cand.join(F.broadcast(dtab), ["m", "centroid_id"])
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .groupBy("q_id", "neighbor_id")
        .agg(F.sum("d").cast("long").alias("adc_dist"))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy("adc_dist", "neighbor_id")
            ),
        )
        .filter(F.col("rnk") <= PQA_TOPK)
    )

    # Round-12 restructure: n_true / n_hit / n_top1_hit were three
    # aggregate subtrees over two eager checkpoints (exact, adc); a
    # single left join from the exact top-k to the ADC top-k (both
    # unique on (q_id, neighbor_id) by their rnk filters) folds them
    # into ONE aggregate, and each side is now referenced exactly
    # once, so neither needs materializing.
    per = exact.join(
        adc.select(
            "q_id", "neighbor_id", F.lit(1).alias("in_adc")
        ),
        ["q_id", "neighbor_id"],
        "left",
    )
    scalars = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_true"),
        F.coalesce(F.sum("in_adc"), F.lit(0)).cast("long").alias("n_hit"),
        F.coalesce(
            F.sum(F.when(F.col("rnk") == 1, F.col("in_adc"))), F.lit(0)
        )
        .cast("long")
        .alias("n_top1_hit"),
    )
    nq = samp.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    return (
        nq.crossJoin(F.broadcast(scalars))
        .select(
            "n_queries",
            F.lit(PQA_TOPK).cast("long").alias("k"),
            "n_true",
            "n_hit",
            F.expr("(n_hit * 1000000) div n_true").cast("long").alias("recall_ppm"),
            "n_top1_hit",
        )
    )


# ===========================================================================
# Positional-index proximity search (terms within a window)
# ===========================================================================

PROX_WINDOW = 10


def _proximity_oracle() -> str:
    return f"""
    WITH tok AS (
        SELECT doc_id, u.p::BIGINT AS pos, toks[u.p] AS w
        FROM (
            SELECT doc_id,
                   CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[]
                        ELSE string_split_regex(trim(lower(text)), '\\s+') END
                       AS toks
            FROM documents
        ), unnest(range(1, len(toks) + 1)) AS u(p)
    ), top2 AS (
        SELECT w, rnk FROM (
            SELECT w, row_number() OVER (ORDER BY count(*) DESC, w) AS rnk
            FROM tok GROUP BY w) WHERE rnk <= 2
    ), p1 AS (
        SELECT tok.doc_id, tok.pos, tok.w FROM tok
        JOIN top2 ON tok.w = top2.w AND top2.rnk = 1
    ), p2 AS (
        SELECT tok.doc_id, tok.pos, tok.w FROM tok
        JOIN top2 ON tok.w = top2.w AND top2.rnk = 2
    )
    SELECT p1.doc_id,
           any_value(p1.w) AS term_a, any_value(p2.w) AS term_b,
           count(*)::BIGINT AS n_pairs,
           min(abs(p1.pos - p2.pos))::BIGINT AS min_gap
    FROM p1 JOIN p2 ON p1.doc_id = p2.doc_id
    WHERE abs(p1.pos - p2.pos) <= {PROX_WINDOW}
    GROUP BY p1.doc_id
    """


@register(
    "term_proximity_search",
    _proximity_oracle(),
    survey_ids=("W1", "J1"),
    doc="Positional-index proximity search — the IR operator BM25 "
    "lacks: find documents where two terms co-occur within "
    f"{PROX_WINDOW} token positions, with pair count and closest "
    "gap per document.  The probe terms are data-derived "
    "deterministically (the corpus' two most frequent tokens, "
    "count-desc/lexicographic tiebreak) so the query is "
    "self-contained and oracle-replayable.  Plan shape: ONE corpus "
    "tokenize/explode builds the positional postings; the 2-row term "
    "table broadcasts onto it, so only the two probed terms' "
    "postings survive to the shuffle (the filter lands before the "
    "exchange — at 100 TB the join input is the postings of two "
    "terms, not the corpus); the proximity pair join is keyed on "
    "doc_id, so per-doc work is bounded by the doc's own term "
    "counts.  A hyper-frequent term pair inside one enormous doc "
    "would escalate to the interval_bucket_join band pattern "
    "(bucket positions by the window, join adjacent buckets) — same "
    "relational shape, noted here for the record.",
)
def q_term_proximity_search(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    # tokens() guards the empty/whitespace-only document (-> empty
    # array, matching the oracle's CASE ... THEN [] branch); a bare
    # split would emit a [''] token and inflate '' term frequencies.
    toks = tokens(F.lower(F.col("text")))
    tok = (
        docs.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.posexplode("toks").alias("pos0", "w"))
        .select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "w")
    )
    # TakeOrderedAndProject picks the top-2 terms (per-partition top-n
    # + merge — no global sort, no vocabulary-wide single-partition
    # window); the rank window then runs on the 2-row frame only (the
    # dsir_importance_weights posture).
    # bounded-frame: 2-row frame (TakeOrdered top-2 terms)
    wr = Window.orderBy(F.col("cnt").desc(), "w")
    top2 = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "w")
        .limit(2)
        .withColumn("rnk", F.row_number().over(wr))
        .select("w", "rnk")
        # 2 rows; materialize so the corpus-wide count runs once, not
        # once per postings branch.
        .localCheckpoint(eager=True)
    )
    p1 = tok.join(
        F.broadcast(top2.filter(F.col("rnk") == 1).select("w")), "w"
    ).select("doc_id", F.col("pos").alias("pos_a"), F.col("w").alias("term_a"))
    p2 = tok.join(
        F.broadcast(top2.filter(F.col("rnk") == 2).select("w")), "w"
    ).select("doc_id", F.col("pos").alias("pos_b"), F.col("w").alias("term_b"))
    return (
        p1.join(p2, "doc_id")
        .filter(F.abs(F.col("pos_a") - F.col("pos_b")) <= PROX_WINDOW)
        .groupBy("doc_id")
        .agg(
            F.any_value("term_a").alias("term_a"),
            F.any_value("term_b").alias("term_b"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.min(F.abs(F.col("pos_a") - F.col("pos_b")))
            .cast("long")
            .alias("min_gap"),
        )
    )


# ===========================================================================
# IVFADC: coarse quantizer + residual PQ — the production ANN layout
# ===========================================================================

IVFADC_COARSE = 8
IVFADC_NPROBE = 2
IVFADC_TOPK = 5
IVFADC_NQ = 5


def _ivfadc_chain(
    q_pred: str,
    topk: int,
    final: str = "ranked",
    nprobe: int | None = None,
    probe_rank: bool = False,
) -> str:
    """IVFADC replay chain, parameterized on the query-set predicate
    (over ``e``), k, and probe depth — shared by the search query,
    the recall audit, and the nprobe autotune so layout and
    instrument cannot drift.  Ends in ``{final}`` = (q_id,
    neighbor_id, rank, adc_dist), rank <= topk; with
    ``probe_rank=True`` it ends at ``adc`` = (q_id, neighbor_id,
    adc_dist, probe_rank) UNRANKED, so a caller can sweep every
    probe depth from one index build."""
    from ..operators.similarity import PQ_Q, sql_ivf_train, sql_pq_chain

    if nprobe is None:
        nprobe = IVFADC_NPROBE
    subdim = 16
    isq = (
        f"list_sum(list_transform(range(1, {subdim + 1}), "
        "i -> (s.sv[i] - c.qc[i]) * (s.sv[i] - c.qc[i])))"
    )
    isq_q = isq.replace("s.sv", "qsub.sv").replace("c.qc", "pc.qc")
    pr_sel = ", rn AS probe_rank" if probe_rank else ""
    pr_qq = ", p.probe_rank" if probe_rank else ""
    pr_qsub = ", probe_rank" if probe_rank else ""
    pr_dtab = ", qsub.probe_rank" if probe_rank else ""
    pr_adc = ", min(d.probe_rank)::BIGINT AS probe_rank" if probe_rank else ""
    chain = (
        sql_ivf_train(n_centroids=IVFADC_COARSE)
        + f""",
    af AS (SELECT vec_id, v, centroid_id FROM (
        SELECT e.vec_id, e.v, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.v, c.cv) DESC, c.centroid_id) AS rn
        FROM e CROSS JOIN cent c) WHERE rn = 1),
    resid AS (SELECT af.vec_id,
                     list_transform(range(1, 65), i -> af.v[i] - c.cv[i]) AS v
              FROM af JOIN cent c USING (centroid_id)),
    {sql_pq_chain(source="SELECT vec_id, v FROM resid", prefix="pq_")},
    codes AS (SELECT vec_id, m, centroid_id FROM (
        SELECT s.vec_id, s.m, c.centroid_id,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                   ORDER BY {isq}, c.centroid_id) AS rn
        FROM pq_subs s JOIN pq_cent c USING (m)) WHERE rn = 1),
    probes AS (SELECT q_id, centroid_id{pr_sel} FROM (
        SELECT e.vec_id AS q_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.v, c.cv) DESC, c.centroid_id) AS rn
        FROM e CROSS JOIN cent c WHERE {q_pred})
        WHERE rn <= {nprobe}),
    qq AS (SELECT p.q_id, p.centroid_id{pr_qq},
                  list_transform(range(1, 65),
                                 i -> floor((e.v[i] - c.cv[i]) * {PQ_Q})::BIGINT)
                      AS qv
           FROM probes p JOIN e ON e.vec_id = p.q_id
                JOIN cent c USING (centroid_id)),
    qsub AS (SELECT q_id, centroid_id AS coarse_id{pr_qsub}, t.m,
                    list_slice(qv, t.m * {subdim} + 1, (t.m + 1) * {subdim}) AS sv
             FROM qq, unnest([0, 1, 2, 3]) t(m)),
    dtab AS (SELECT qsub.q_id, qsub.coarse_id{pr_dtab}, pc.m,
                    pc.centroid_id AS pq_id, {isq_q}::BIGINT AS d
             FROM qsub JOIN pq_cent pc USING (m)),
    cand AS (SELECT af.vec_id AS neighbor_id, af.centroid_id AS coarse_id,
                    codes.m, codes.centroid_id AS pq_id
             FROM af JOIN codes USING (vec_id)),
    adc AS (SELECT d.q_id, cand.neighbor_id, sum(d.d)::BIGINT AS adc_dist{pr_adc}
            FROM cand JOIN dtab d
              ON d.coarse_id = cand.coarse_id AND d.m = cand.m
             AND d.pq_id = cand.pq_id
            WHERE cand.neighbor_id <> d.q_id
            GROUP BY 1, 2)"""
    )
    if probe_rank:
        return chain
    return (
        chain
        + f""",
    {final} AS (SELECT q_id, neighbor_id, rank, adc_dist FROM (
        SELECT q_id, neighbor_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY adc_dist, neighbor_id)::BIGINT AS rank,
               adc_dist
        FROM adc) WHERE rank <= {topk})"""
    )


def _ivfadc_oracle() -> str:
    return (
        "WITH "
        + _ivfadc_chain(f"e.vec_id < {IVFADC_NQ}", IVFADC_TOPK)
        + """
    SELECT q_id, neighbor_id, rank, adc_dist FROM ranked"""
    )


@register(
    "embed_ivfadc_topk",
    _ivfadc_oracle(),
    survey_ids=("O5", "A1"),
    doc="IVFADC — the production trillion-scale ANN layout (Jegou et "
    "al. 2011 §IV): a coarse IVF quantizer routes each query to its "
    f"{IVFADC_NPROBE} nearest of {IVFADC_COARSE} cells, and within "
    "the probed cells candidates are ranked by asymmetric distance "
    "through a PQ codebook trained on RESIDUALS (vector minus its "
    "coarse centroid — residual energy is what PQ quantizes well, "
    "the paper's key refinement over flat PQ).  Composes the two "
    "catalog-verified trainers: ivf_train's coarse centroids and "
    "pq_train on the residual table; the oracle stacks both replay "
    "chains (sql_ivf_train + sql_pq_chain(prefix='pq_')) plus the "
    "probe/ADC ranking.  Scale shape: candidates are touched ONLY in "
    "probed cells (the IVF equi-join prunes ~(1 - nprobe/C) of the "
    "corpus), each through its packed 2-byte code (8 bytes of "
    "payload per vector), with the per-(query, cell) distance table "
    "broadcast — no shuffle of the corpus side at any point after "
    "encoding.  All-integer ADC distances with id tiebreaks keep the "
    "ranking bit-portable.",
)
def q_embed_ivfadc_topk(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = e.filter(F.col("vec_id") < IVFADC_NQ).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv_raw")
    )
    return _ivfadc_rank(spark, sf_dir, q, IVFADC_TOPK)


def _ivfadc_rank(spark, sf_dir, q, topk, nprobe=None, probe_rank=False):
    """Train the IVFADC index and rank ``q`` = (q_id, qv_raw) against
    it — shared by the search query, the recall audit, and the nprobe
    autotune.  With ``probe_rank=True`` returns the UNRANKED (q_id,
    neighbor_id, adc_dist, probe_rank) candidate relation so the
    caller can sweep every probe depth from one index build."""
    if nprobe is None:
        nprobe = IVFADC_NPROBE
    from ..operators.similarity import (
        PQ_K,
        PQ_M,
        PQ_Q,
        _isqdist,
        _sub,
        ivf_assign,
        pq_codes,
        pq_train,
    )

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # ivf_train's output is already an eager localCheckpoint; the memo
    # shares one training across the IVFADC trio and the other
    # trained-quantizer queries (catalog.py:trained_ivf_centroids).
    coarse = trained_ivf_centroids(spark, sf_dir, IVFADC_COARSE)
    cv = coarse.select("centroid_id", F.col("embedding").alias("__cv"))
    af = ivf_assign(e, coarse)
    # Materialize the residual table once (eager): it feeds PQ
    # training (itself iterative), encoding, and the candidate cell
    # map — without this the coarse-assignment window re-runs per
    # consumer.  At production scale this is the persisted encoded
    # table a real IVFADC index stores anyway.
    resid = (
        af.join(F.broadcast(cv), "centroid_id")
        .select(
            "vec_id",
            "centroid_id",
            F.zip_with("embedding", "__cv", lambda a, b: a - b).alias("rv"),
        )
        .localCheckpoint(eager=True)
    )
    rvecs = resid.select("vec_id", F.col("rv").alias("embedding"))
    pqc = pq_train(rvecs).localCheckpoint(eager=True)
    # The IVF cell rides THROUGH the encoder (carry) — the stored
    # index row is (vec_id, cell, 2-byte code) and no consumer ever
    # joins back to the residual table for it.
    codes = pq_codes(
        resid.select("vec_id", F.col("rv").alias("embedding"), "centroid_id"),
        pqc,
        carry=("centroid_id",),
    )

    subdim = 64 // PQ_M
    bits = max((PQ_K - 1).bit_length(), 1)
    wq = Window.partitionBy("q_id").orderBy(
        F.col("__score").desc(), F.col("centroid_id")
    )
    pr_cols = [F.col("__rn").cast("long").alias("probe_rank")] if probe_rank else []
    pr_names = ["probe_rank"] if probe_rank else []
    probes = (
        q.join(F.broadcast(cv), how="cross")
        .withColumn("__score", dot(F.col("qv_raw"), F.col("__cv")))
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select(
            "q_id",
            F.col("centroid_id").alias("coarse_id"),
            *pr_cols,
            F.zip_with(
                "qv_raw",
                "__cv",
                lambda a, b: F.floor((a - b) * F.lit(PQ_Q)).cast("long"),
            ).alias("qres"),
        )
    )
    qsub = probes.select(
        "q_id",
        "coarse_id",
        *pr_names,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("m"),
                        _sub(F.col("qres"), j, subdim).alias("sv"),
                    )
                    for j in range(PQ_M)
                ]
            )
        ).alias("s"),
    ).select("q_id", "coarse_id", *pr_names, "s.m", "s.sv")
    dtab = qsub.join(F.broadcast(pqc), "m").select(
        "q_id",
        "coarse_id",
        *pr_names,
        "m",
        F.col("centroid_id").alias("pq_id"),
        _isqdist(F.col("sv"), F.col("qc")).alias("d"),
    )
    cand = (
        codes.withColumnRenamed("centroid_id", "coarse_id")
        .select(
            F.col("vec_id").alias("neighbor_id"),
            "coarse_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("m"),
                            F.shiftright(F.col("pq_code"), j * bits)
                            .bitwiseAND(F.lit(PQ_K - 1))
                            .cast("int")
                            .alias("pq_id"),
                        )
                        for j in range(PQ_M)
                    ]
                )
            ).alias("c"),
        )
        .select("neighbor_id", "coarse_id", "c.m", "c.pq_id")
    )
    adc = (
        cand.join(F.broadcast(dtab), ["coarse_id", "m", "pq_id"])
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .groupBy("q_id", "neighbor_id")
        .agg(
            F.sum("d").cast("long").alias("adc_dist"),
            *(
                [F.min("probe_rank").cast("long").alias("probe_rank")]
                if probe_rank
                else []
            ),
        )
    )
    if probe_rank:
        return adc.select("q_id", "neighbor_id", "adc_dist", "probe_rank")
    w = Window.partitionBy("q_id").orderBy("adc_dist", "neighbor_id")
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
        .select("q_id", "neighbor_id", "rank", "adc_dist")
    )


def _pqa_qsel_sql() -> str:
    """Query-set predicate (over ``e``) selecting the PQA_N md5 sample."""
    pri = md5_long_sql("'pqa:' || CAST(vec_id AS VARCHAR)")
    return (
        f"e.vec_id IN (SELECT vec_id FROM (SELECT vec_id, "
        f"row_number() OVER (ORDER BY {pri}, vec_id) AS rn FROM e) "
        f"WHERE rn <= {PQA_N})"
    )


def _pqa_exact_ctes() -> str:
    """CTE fragment (exq, samp, exact) — the exact integer-L2 ground
    truth on the PQA_N sample; shared by the recall audit and the
    nprobe autotune oracles."""
    pri = md5_long_sql("'pqa:' || CAST(vec_id AS VARCHAR)")
    isq_full = (
        "list_sum(list_transform(range(1, 65), "
        "i -> (s.qv[i] - c2.qv[i]) * (s.qv[i] - c2.qv[i])))"
    )
    return f""",
    exq AS (SELECT vec_id,
                   list_transform(v, x -> floor(x * 1000000)::BIGINT) AS qv
            FROM e),
    samp AS (SELECT vec_id FROM (
        SELECT vec_id, row_number() OVER (ORDER BY {pri}, vec_id) AS rn
        FROM e) WHERE rn <= {PQA_N}),
    exact AS (SELECT q_id, neighbor_id, rnk FROM (
        SELECT s.vec_id AS q_id, c2.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY s.vec_id
                   ORDER BY {isq_full}, c2.vec_id) AS rnk
        FROM exq s JOIN samp USING (vec_id), exq c2
        WHERE c2.vec_id <> s.vec_id) WHERE rnk <= {PQA_TOPK})"""


def _ivfadc_audit_oracle() -> str:
    return (
        "WITH "
        + _ivfadc_chain(_pqa_qsel_sql(), PQA_TOPK)
        + _pqa_exact_ctes()
        + f""",
    hit AS (SELECT count(*)::BIGINT AS n_hit
            FROM exact JOIN ranked USING (q_id, neighbor_id)),
    hit1 AS (SELECT count(*)::BIGINT AS n_top1_hit
             FROM exact JOIN ranked USING (q_id, neighbor_id)
             WHERE exact.rnk = 1),
    tr AS (SELECT count(*)::BIGINT AS n_true FROM exact),
    nq AS (SELECT count(*)::BIGINT AS n_queries FROM samp)
    SELECT n_queries, {PQA_TOPK}::BIGINT AS k, n_true, n_hit,
           (n_hit * 1000000 // n_true)::BIGINT AS recall_ppm,
           n_top1_hit
    FROM nq CROSS JOIN tr CROSS JOIN hit CROSS JOIN hit1"""
    )


def _pqa_sample_exact(spark, sf_dir):
    """The PQA_N md5-sampled query set and its exact integer-L2
    ground truth (q_id, neighbor_id, rnk <= PQA_TOPK) — shared by the
    recall audit and the nprobe autotune so the instrument cannot
    drift between them."""
    from ..operators.similarity import _qvec, _isqdist

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
        _qvec(F.col("embedding")).alias("qv"),
    )
    samp = (
        e.withColumn(
            "__pri",
            md5_long(F.concat(F.lit("pqa:"), F.col("vec_id").cast("string"))),
        )
        .orderBy("__pri", "vec_id")
        .limit(PQA_N)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("qv_raw"),
            F.col("qv").alias("qa"),
        )
        .localCheckpoint(eager=True)
    )
    exact = (
        e.select(F.col("vec_id").alias("neighbor_id"), "qv")
        .join(F.broadcast(samp), F.col("neighbor_id") != F.col("q_id"))
        .select(
            "q_id", "neighbor_id", _isqdist(F.col("qv"), F.col("qa")).alias("d")
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy("d", "neighbor_id")
            ),
        )
        .filter(F.col("rnk") <= PQA_TOPK)
        .localCheckpoint(eager=True)
    )
    return samp, exact


@register(
    "ivfadc_recall_audit",
    _ivfadc_audit_oracle(),
    survey_ids=("A1", "O5"),
    doc="The measure-don't-guess trilogy completed (LSH -> flat PQ -> "
    "IVFADC): exact recall@k of the full IVFADC layout — coarse "
    f"routing loss ({IVFADC_NPROBE}-of-{IVFADC_COARSE} cells probed) "
    "COMPOUNDED with residual-PQ quantization loss — against the "
    "same exact integer-L2 ground truth, on the SAME md5 query "
    "sample as pq_recall_audit, so the two rows decompose the "
    "recall budget: flat-PQ recall isolates quantization, this row "
    "adds cell pruning, and the gap prices nprobe.  Shares the "
    "IVFADC replay chain with embed_ivfadc_topk (builder and oracle "
    "both — instrument and layout cannot drift).  Audit cost is "
    "Q*N for the truth plus the production search path itself.",
)
def q_ivfadc_recall_audit(spark, sf_dir):
    samp, exact = _pqa_sample_exact(spark, sf_dir)
    ranked = _ivfadc_rank(
        spark, sf_dir, samp.select("q_id", "qv_raw"), PQA_TOPK
    ).localCheckpoint(eager=True)
    hit = exact.join(ranked, ["q_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_hit")
    )
    hit1 = (
        exact.filter(F.col("rnk") == 1)
        .join(ranked, ["q_id", "neighbor_id"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_top1_hit"))
    )
    tr = exact.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    nq = samp.agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    return (
        nq.crossJoin(F.broadcast(tr))
        .crossJoin(F.broadcast(hit))
        .crossJoin(F.broadcast(hit1))
        .select(
            "n_queries",
            F.lit(PQA_TOPK).cast("long").alias("k"),
            "n_true",
            "n_hit",
            F.expr("(n_hit * 1000000) div n_true").cast("long").alias("recall_ppm"),
            "n_top1_hit",
        )
    )


# ===========================================================================
# IVFADC nprobe autotune (close the measure-don't-guess loop)
# ===========================================================================

IVFADC_TUNE_PCT = 95  # capture >= this % of the full-probe recall


def _ivfadc_autotune_oracle() -> str:
    c, pct, k = IVFADC_COARSE, IVFADC_TUNE_PCT, PQA_TOPK
    return (
        "WITH "
        + _ivfadc_chain(_pqa_qsel_sql(), k, nprobe=c, probe_rank=True)
        + _pqa_exact_ctes()
        + f""",
    nps AS (SELECT u.np::BIGINT AS nprobe FROM unnest(range(1, {c + 1})) u(np)),
    swept AS (
        SELECT np.nprobe, a.q_id, a.neighbor_id,
               row_number() OVER (PARTITION BY np.nprobe, a.q_id
                                  ORDER BY a.adc_dist, a.neighbor_id) AS rank
        FROM adc a JOIN nps np ON a.probe_rank <= np.nprobe
    ), hits AS (
        SELECT s.nprobe, count(*)::BIGINT AS n_hit
        FROM swept s JOIN exact USING (q_id, neighbor_id)
        WHERE s.rank <= {k}
        GROUP BY s.nprobe
    ), tr AS (SELECT count(*)::BIGINT AS n_true FROM exact),
    rec AS (
        SELECT np.nprobe,
               (coalesce(h.n_hit, 0) * 1000000 // tr.n_true)::BIGINT AS recall_ppm
        FROM nps np LEFT JOIN hits h USING (nprobe) CROSS JOIN tr
    ), fullr AS (SELECT recall_ppm AS full_ppm FROM rec WHERE nprobe = {c}),
    ch AS (
        SELECT min(nprobe) AS chosen_np
        FROM rec CROSS JOIN fullr
        WHERE recall_ppm * 100 >= {pct} * full_ppm
    )
    SELECT rec.nprobe, rec.recall_ppm,
           ({pct} * fullr.full_ppm // 100)::BIGINT AS target_ppm,
           (rec.nprobe = ch.chosen_np) AS chosen
    FROM rec CROSS JOIN fullr CROSS JOIN ch
    """
    )


@register(
    "ivfadc_autotune",
    _ivfadc_autotune_oracle(),
    survey_ids=("A1", "O5"),
    doc="nprobe AUTOTUNING from the recall audit — the loop "
    "ivfadc_recall_audit left open: sweep EVERY probe depth 1..C "
    "from ONE index build (candidates carry the rank of their coarse "
    "cell in the query's preference order, so 'probed at depth np' "
    "is just probe_rank <= np — the index trains once, no per-depth "
    "re-run), measure recall@k against the same exact integer-L2 "
    f"ground truth on the same md5 sample, and choose the SMALLEST "
    f"nprobe capturing >= {IVFADC_TUNE_PCT}% of the full-probe "
    "recall.  The target is RELATIVE to the achievable ceiling "
    "because nprobe only trades routing loss — quantization loss "
    "(pq_recall_audit's number) caps what any probe depth can reach, "
    "so an absolute target would degenerate to 'probe everything'.  "
    "Returns the whole sweep (nprobe, recall_ppm, target_ppm, "
    "chosen) so the operating point is auditable, integer arithmetic "
    "end-to-end.  Shares the replay chain, sample, and ground truth "
    "with the audit queries (builder and oracle both) — the tuner "
    "and the instrument cannot drift.",
)
def q_ivfadc_autotune(spark, sf_dir):
    c, pct, k = IVFADC_COARSE, IVFADC_TUNE_PCT, PQA_TOPK
    samp, exact = _pqa_sample_exact(spark, sf_dir)
    adc = _ivfadc_rank(
        spark, sf_dir, samp.select("q_id", "qv_raw"), k,
        nprobe=c, probe_rank=True,
    ).localCheckpoint(eager=True)
    nps = spark.range(1, c + 1).select(F.col("id").cast("long").alias("nprobe"))
    w = Window.partitionBy("nprobe", "q_id").orderBy("adc_dist", "neighbor_id")
    swept = (
        adc.join(F.broadcast(nps), F.col("probe_rank") <= F.col("nprobe"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    # exact is the PQA_N*k ground-truth frame (<= 320 rows) but is
    # localCheckpointed (no stats), so without the hint the static
    # plan sorts-and-merges; broadcast it explicitly.
    hits = (
        swept.join(F.broadcast(exact), ["q_id", "neighbor_id"])
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    tr = exact.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    rec = (
        nps.join(hits, "nprobe", "left")
        .crossJoin(F.broadcast(tr))
        .select(
            "nprobe",
            F.expr("(coalesce(n_hit, 0) * 1000000) div n_true")
            .cast("long")
            .alias("recall_ppm"),
        )
    )
    fullr = rec.filter(F.col("nprobe") == c).select(
        F.col("recall_ppm").alias("full_ppm")
    )
    ch = (
        rec.crossJoin(F.broadcast(fullr))
        .filter(F.col("recall_ppm") * 100 >= pct * F.col("full_ppm"))
        .agg(F.min("nprobe").alias("chosen_np"))
    )
    return (
        rec.crossJoin(F.broadcast(fullr))
        .crossJoin(F.broadcast(ch))
        .select(
            "nprobe",
            "recall_ppm",
            F.expr(f"({pct} * full_ppm) div 100").cast("long").alias("target_ppm"),
            (F.col("nprobe") == F.col("chosen_np")).alias("chosen"),
        )
    )


# ===========================================================================
# Margin-based bitext mining (mutual-kNN + ratio margin)
# ===========================================================================

# Every miner is a candidate-pair builder — (src_id, tgt_id, qdot), the
# dot quantized to 1e-9 integers — followed by ONE margin tail:
# margin_mine in Spark, _sql_margin_tail in DuckDB.  The DuckDB fragments
# are parameterized by CTE prefix so one audit query can replay three
# miners without name collisions.

_BITEXT_K = 4  # mutual-kNN depth
_IVF_NCENT = 8  # coarse centroids (matches embed_ivf_topk)
_IVF_NPROBE = 2  # probed buckets per source vector


def _sql_split(rel: str) -> str:
    """CTEs ``s`` (src_id, sv) and ``t`` (tgt_id, tv): ``rel``'s
    (vec_id, v) rows split into the two pseudo-corpora by id parity."""
    return f"""
    s AS (SELECT vec_id AS src_id, v AS sv FROM {rel} WHERE vec_id % 2 = 0),
    t AS (SELECT vec_id AS tgt_id, v AS tv FROM {rel} WHERE vec_id % 2 = 1)"""


def _sql_brute_pairs(prefix: str, src: str, tgt: str) -> str:
    """CTE ``{prefix}p``: every (src, tgt) pair with its quantized dot."""
    return f"""
    {prefix}p AS (
      SELECT src_id, tgt_id,
             floor(list_dot_product(sv, tv) * 1000000000)::BIGINT AS qdot
      FROM {src}, {tgt}
    )"""


def _sql_ivf_pairs(prefix: str, cent: str, src: str, tgt: str, nprobe: int) -> str:
    """CTEs ``{prefix}a`` (tgt assignment), ``{prefix}pr`` (src probes),
    ``{prefix}p`` (candidate pairs with 1e-9-quantized dots).  ``cent``
    must expose (centroid_id, cv), ``src`` (src_id, sv), ``tgt``
    (tgt_id, tv)."""
    return f"""
    {prefix}a AS (
      SELECT tgt_id, tv, centroid_id FROM (
        SELECT t.tgt_id, t.tv, c.centroid_id,
               row_number() OVER (PARTITION BY t.tgt_id
                                  ORDER BY list_dot_product(t.tv, c.cv) DESC,
                                           c.centroid_id) AS rn
        FROM {tgt} t CROSS JOIN {cent} c) WHERE rn = 1
    ),
    {prefix}pr AS (
      SELECT src_id, sv, centroid_id FROM (
        SELECT s.src_id, s.sv, c.centroid_id,
               row_number() OVER (PARTITION BY s.src_id
                                  ORDER BY list_dot_product(s.sv, c.cv) DESC,
                                           c.centroid_id) AS rn
        FROM {src} s CROSS JOIN {cent} c) WHERE rn <= {nprobe}
    ),
    {prefix}p AS (
      SELECT pr.src_id, a.tgt_id,
             floor(list_dot_product(pr.sv, a.tv) * 1000000000)::BIGINT AS qdot
      FROM {prefix}pr pr JOIN {prefix}a a ON pr.centroid_id = a.centroid_id
    )"""


def _sql_margin_tail(prefix: str, k: int) -> str:
    """CTE ``{prefix}m``: mined (src_id, tgt_id, qdot, margin) from the
    candidate relation ``{prefix}p`` — same mutual-kNN depth, integer
    top-k sums, and correctly-rounded margin division as margin_mine."""
    return f"""
    {prefix}r AS (
      SELECT *,
             row_number() OVER (PARTITION BY src_id
                                ORDER BY qdot DESC, tgt_id) AS rs,
             row_number() OVER (PARTITION BY tgt_id
                                ORDER BY qdot DESC, src_id) AS rt
      FROM {prefix}p
    ),
    {prefix}kx AS (SELECT src_id, sum(qdot)::BIGINT AS sx FROM {prefix}r
                   WHERE rs <= {k} GROUP BY src_id),
    {prefix}ky AS (SELECT tgt_id, sum(qdot)::BIGINT AS sy FROM {prefix}r
                   WHERE rt <= {k} GROUP BY tgt_id),
    {prefix}m AS (
      SELECT r.src_id, r.tgt_id, r.qdot,
             (r.qdot * {2 * k}) / (kx.sx + ky.sy) AS margin
      FROM {prefix}r r
      JOIN {prefix}kx kx ON r.src_id = kx.src_id
      JOIN {prefix}ky ky ON r.tgt_id = ky.tgt_id
      WHERE r.rs <= {k} AND r.rt <= {k}
        AND (r.qdot * {2 * k}) / (kx.sx + ky.sy) > 1.0
    )"""


def _sql_mined(ctes: str, pairs: str) -> str:
    """A miner's oracle: ``ctes``, the ``bp`` candidate CTE ``pairs``,
    then the margin tail over it."""
    return (
        f"WITH {ctes},{pairs},{_sql_margin_tail('b', _BITEXT_K)}\n"
        "    SELECT src_id, tgt_id, qdot, margin FROM bm\n"
    )


_SQL_EMB = "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),"


def brute_pairs(e):
    """Every (src_id, tgt_id, qdot) pair of an embeddings frame's two
    parity halves — the brute-force exactness baseline (target side
    broadcast, map-side dot, no shuffle before the rank windows)."""
    src = e.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("src_id"),
        F.col("embedding").cast("array<double>").alias("sv"),
    )
    tgt = e.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("tgt_id"),
        F.col("embedding").cast("array<double>").alias("tv"),
    )
    return src.join(F.broadcast(tgt)).select(
        "src_id",
        "tgt_id",
        F.floor(dot(F.col("sv"), F.col("tv")) * F.lit(1000000000.0))
        .cast("long")
        .alias("qdot"),
    )


def ivf_candidate_pairs(e, n_cent: int, nprobe: int, centroids=None):
    """The IVF candidate stage alone: (src_id, tgt_id, qdot) from
    probe-bucket equi-joins — exposed so the soak can measure the pair
    relation's volume/wall separately from the margin tail.  Pass
    ``centroids`` (centroid_id, embedding) to mine against an external
    quantizer (e.g. ivf_train's — the balanced-bucket 100 TB shape);
    the default keeps the oracle-replayable first-``n_cent`` rule."""
    if centroids is None:
        centroids = e.filter(F.col("vec_id") < n_cent).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
    src = e.filter(F.col("vec_id") % 2 == 0)
    tgt = e.filter(F.col("vec_id") % 2 == 1)
    atgt = S.ivf_assign(tgt, centroids).select(
        F.col("vec_id").alias("tgt_id"),
        F.col("embedding").cast("array<double>").alias("tv"),
        "centroid_id",
    )
    probes = S.ivf_probe(src, centroids, nprobe=nprobe)
    # The candidate cut: equi-join on centroid_id.  Neither side is
    # broadcast — both are corpus-sized halves; the join shuffles on
    # the bucket key only.
    return probes.join(atgt, "centroid_id").select(
        F.col("q_id").alias("src_id"),
        "tgt_id",
        F.floor(dot(F.col("q_vec"), F.col("tv")) * F.lit(1000000000.0))
        .cast("long")
        .alias("qdot"),
    )


def margin_mine(pairs, k: int):
    """Mutual-kNN + ratio-margin tail over a (src_id, tgt_id, qdot)
    candidate relation — shared by the brute miner, the IVF miner, the
    trained-quantizer variant, and the recall audit so the margin arithmetic
    cannot drift between them."""
    from ..caching import track_cache

    ws = Window.partitionBy("src_id").orderBy(F.col("qdot").desc(), "tgt_id")
    wt = Window.partitionBy("tgt_id").orderBy(F.col("qdot").desc(), "src_id")
    # Ranked candidates feed THREE consumers (kx, ky, mutual); Catalyst
    # does not CSE shared subtrees, so cache once (runners release it).
    r = track_cache(
        pairs.withColumn("rs", F.row_number().over(ws)).withColumn(
            "rt", F.row_number().over(wt)
        )
    )
    kx = (
        r.filter(F.col("rs") <= k)
        .groupBy("src_id")
        .agg(F.sum("qdot").cast("long").alias("sx"))
    )
    ky = (
        r.filter(F.col("rt") <= k)
        .groupBy("tgt_id")
        .agg(F.sum("qdot").cast("long").alias("sy"))
    )
    mutual = r.filter((F.col("rs") <= k) & (F.col("rt") <= k))
    margin = (F.col("qdot") * F.lit(2 * k)) / (F.col("sx") + F.col("sy"))
    # kx/ky are one row per src_id/tgt_id — O(corpus)-sized, so no
    # broadcast hint (ADVICE r11: a forced broadcast here would exhaust
    # the driver at 100 TB).  Both join inputs are already bounded to
    # <= k rows per key; the equi-joins shuffle on the id keys and AQE
    # is free to pick broadcast when the ACTUAL size is small.
    return (
        mutual.join(kx, "src_id")
        .join(ky, "tgt_id")
        .withColumn("margin", margin)
        .filter(F.col("margin") > 1.0)
        .select("src_id", "tgt_id", "qdot", "margin")
    )


def mine_bitext_ivf(e, n_cent: int, nprobe: int, k: int, centroids=None):
    """IVF-candidate margin miner over an embeddings frame (vec_id,
    embedding).  Parameterized so the soak can hold bucket occupancy
    constant (C grown with the corpus) while the catalog entry pins
    C=8/nprobe=2 for the oracle replay; ``centroids`` routes mining
    through an external (e.g. trained) quantizer."""
    pairs = ivf_candidate_pairs(e, n_cent=n_cent, nprobe=nprobe, centroids=centroids)
    return margin_mine(pairs, k)


@register(
    "bitext_mine_margin",
    _sql_mined(_SQL_EMB + _sql_split("e"), _sql_brute_pairs("b", "s", "t")),
    survey_ids=(),
    doc="Margin-based bitext mining (Artetxe & Schwenk 2019): the two "
    "pseudo-corpora are the embedding table split by id parity; "
    "candidates are MUTUAL top-k (k=4) by dot product, scored by the "
    "ratio margin cos(x,y) / mean(topk(x) u topk(y)) and thresholded "
    "at >1.  Exactness: dots are sequential folds quantized to 1e-9 "
    "integers (the embed_centroid discipline), so the top-k sums are "
    "order-free integer sums and the margin is ONE correctly-rounded "
    "integer division — bit-identical cross-engine.  Scale shape: "
    "the scored pair relation here is the brute-force exactness "
    "baseline (target side broadcast, map-side dot, no shuffle "
    "before the rank windows); at 100 TB the candidate generator is "
    "the IVF path (embed_ivf_topk) producing the SAME mutual-kNN "
    "relation from bucketed search, and the margin arithmetic is "
    "unchanged.  The two rank windows partition by src/tgt id — "
    "per-key frames are corpus-sized here but k-bounded after the "
    "IVF candidate cut.",
)
def q_bitext_mine_margin(spark, sf_dir):
    return margin_mine(brute_pairs(load(spark, sf_dir, "embeddings")), _BITEXT_K)


@register(
    "bitext_mine_margin_ivf",
    _sql_mined(
        _SQL_EMB
        + f"""
    cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e
             WHERE vec_id < {_IVF_NCENT}),"""
        + _sql_split("e"),
        _sql_ivf_pairs("b", "cent", "s", "t", _IVF_NPROBE),
    ),
    survey_ids=(),
    doc="Margin-based bitext mining with IVF candidate generation — "
    "the scale-path twin of bitext_mine_margin (same margin "
    "arithmetic, same mutual-kNN policy, same k=4 threshold >1), "
    "candidates from the coarse quantizer instead of all pairs: "
    "targets are argmax-assigned to their nearest of 8 centroids "
    "(operators/similarity.ivf_assign — broadcast centroids, "
    "map-side), sources probe their 2 nearest buckets (ivf_probe), "
    "and the pair relation is ONE equi-join on centroid_id.  No "
    "corpus x corpus product exists anywhere in the plan "
    "(plan-shape-tested): pair volume is sum over probed buckets of "
    "bucket occupancy — nprobe/C of brute force at C centroids, and "
    "with the standard C ~ sqrt(N) sizing the relation is "
    "O(nprobe * N^1.5) instead of O(N^2).  Rank-window frames are "
    "bucket-bounded (never corpus-sized) and the top-k sums kx/ky "
    "are computed over the SAME candidate relation, so the oracle "
    "replays the routing exactly (embed_ivf_topk's oracle pattern) "
    "and the check stays hash-exact: dots are sequential folds "
    "quantized to 1e-9 integers, the margin one correctly-rounded "
    "integer division.  The centroid equi-join has C distinct keys — "
    "at this catalog's C=8 AQE coalesces the 8 populated partitions; "
    "at 100 TB C grows ~ sqrt(N) (thousands), giving real key "
    "fan-out, and the trained-centroid variant (ivf_train / "
    "embed_ivf_trained) keeps buckets balanced.",
)
def q_bitext_mine_margin_ivf(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return mine_bitext_ivf(e, n_cent=_IVF_NCENT, nprobe=_IVF_NPROBE, k=_BITEXT_K)


# ===========================================================================
# Trained-quantizer bitext mining (verdict r11 item 2)
# ===========================================================================


@register(
    "bitext_mine_margin_ivf_trained",
    _sql_mined(
        S.sql_ivf_train(n_centroids=_IVF_NCENT, iterations=2, dim=64)
        + ","
        + _sql_split("e"),
        _sql_ivf_pairs("b", "cent", "s", "t", _IVF_NPROBE),
    ),
    survey_ids=(),
    doc="The IVF margin miner on TRAINED coarse centroids — the shape "
    "bitext_mine_margin_ivf's docstring promises at 100 TB: two Lloyd "
    "k-means rounds (ivf_train — broadcast-assign map-side argmax, "
    "posexplode/groupBy re-centroid with 1e-9-quantized exact means, "
    "deterministic md5 init) produce the quantizer, and mining is the "
    "same ONE equi-join on centroid_id + bucket-bounded rank frames "
    "as the untrained twin (shared margin_mine tail, shared "
    "ivf_candidate_pairs cut).  Trained centroids are what keep "
    "bucket occupancy balanced on skewed corpora — the first-8 rule "
    "degenerates when early ids cluster, ballooning one bucket's "
    "frames; Lloyd rounds split dense regions by construction "
    "(measured: tools/soak_bitext.py occupancy columns).  The oracle "
    "replays the whole training as a CTE chain (embed_ivf_trained's "
    "pattern), so even the learned quantizer is bit-identical "
    "cross-engine and the margin check stays hash-exact.",
)
def q_bitext_mine_margin_ivf_trained(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    # One Lloyd training per session feeds this, the recall audit, and
    # the embed_ivf/ivfadc/semantic families (catalog.py memo).
    cents = trained_ivf_centroids(spark, sf_dir, _IVF_NCENT, 2)
    return mine_bitext_ivf(
        e, n_cent=_IVF_NCENT, nprobe=_IVF_NPROBE, k=_BITEXT_K, centroids=cents
    )


# ===========================================================================
# IVF-vs-brute pair recall audit (verdict r11 item 5)
# ===========================================================================

_BAUD_N = 192  # sampled vector universe (constant at any corpus scale)

_BITEXT_AUDIT_ORACLE = (
    f"""
    WITH {S.sql_ivf_train(n_centroids=_IVF_NCENT, iterations=2, dim=64)},
    cent_u AS (SELECT vec_id AS centroid_id, v AS cv FROM e
               WHERE vec_id < {_IVF_NCENT}),
    samp AS (
      SELECT vec_id, v FROM (
        SELECT vec_id, v,
               row_number() OVER (ORDER BY
                 ('0x' || substr(md5('baud:' || vec_id::VARCHAR), 1, 15))::BIGINT,
                 vec_id) AS rn
        FROM e) WHERE rn <= {_BAUD_N}
    ),"""
    + _sql_split("samp")
    + ","
    + _sql_brute_pairs("g", "s", "t")
    + ","
    + _sql_margin_tail("g", _BITEXT_K)
    + ","
    + _sql_ivf_pairs("u", "cent_u", "s", "t", _IVF_NPROBE)
    + ","
    + _sql_margin_tail("u", _BITEXT_K)
    + ","
    + _sql_ivf_pairs("w", "cent", "s", "t", _IVF_NPROBE)
    + ","
    + _sql_margin_tail("w", _BITEXT_K)
    + f"""
    SELECT
      (SELECT count(*) FROM samp)::BIGINT AS n_vecs,
      (SELECT count(*) FROM gm)::BIGINT AS n_brute,
      (SELECT count(*) FROM um)::BIGINT AS n_ivf,
      (SELECT count(*) FROM um JOIN gm USING (src_id, tgt_id))::BIGINT AS n_hit_ivf,
      CASE WHEN (SELECT count(*) FROM gm) > 0
           THEN (SELECT count(*) FROM um JOIN gm USING (src_id, tgt_id))
                * 1000000 // (SELECT count(*) FROM gm)
           ELSE 1000000 END::BIGINT AS recall_ivf_ppm,
      (SELECT count(*) FROM wm)::BIGINT AS n_ivf_trained,
      (SELECT count(*) FROM wm JOIN gm USING (src_id, tgt_id))::BIGINT
        AS n_hit_trained,
      CASE WHEN (SELECT count(*) FROM gm) > 0
           THEN (SELECT count(*) FROM wm JOIN gm USING (src_id, tgt_id))
                * 1000000 // (SELECT count(*) FROM gm)
           ELSE 1000000 END::BIGINT AS recall_trained_ppm
"""
)


@register(
    "bitext_recall_audit",
    _BITEXT_AUDIT_ORACLE,
    survey_ids=("A1",),
    doc="Measure, don't guess — applied to the IVF candidate cut the "
    "bitext miners rely on (the lsh_recall_audit discipline): on a "
    f"deterministic {_BAUD_N}-vector md5-sampled universe (TakeOrdered "
    "over an md5 priority — fixed cost at ANY corpus scale; the brute "
    "truth is O(sample^2) and must never see the full corpus), mine "
    "pairs with (a) brute mutual-kNN margin (exact ground truth), "
    "(b) IVF on first-8 centroids, (c) IVF on Lloyd-TRAINED centroids, "
    "and report each variant's mined-pair recall against brute as ppm "
    "integers.  Quantizers are global — trained/selected on the FULL "
    "corpus exactly as the production miners use them; only the mined "
    "universe is sampled, so the number answers 'what does the "
    "candidate cut cost me in recall, and what does training buy "
    "back'.  All three miners share margin_mine / _sql_margin_tail, "
    "so the audit measures the CANDIDATE policies, not arithmetic "
    "drift.",
)
def q_bitext_recall_audit(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    samp = (
        e.withColumn(
            "__pri",
            md5_long(F.concat(F.lit("baud:"), F.col("vec_id").cast("string"))),
        )
        .orderBy("__pri", "vec_id")
        .limit(_BAUD_N)
        .drop("__pri")
        .localCheckpoint(eager=True)
    )
    # Brute ground truth: sample-bounded (<= _BAUD_N^2/4 pairs), so the
    # broadcast is safe by construction — this is the audit instrument,
    # not a production path.
    brute = margin_mine(brute_pairs(samp), _BITEXT_K).select("src_id", "tgt_id")
    cent_u = e.filter(F.col("vec_id") < _IVF_NCENT).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    cent_t = trained_ivf_centroids(spark, sf_dir, _IVF_NCENT, 2)
    ivf_u = mine_bitext_ivf(
        samp, n_cent=_IVF_NCENT, nprobe=_IVF_NPROBE, k=_BITEXT_K, centroids=cent_u
    ).select("src_id", "tgt_id")
    ivf_t = mine_bitext_ivf(
        samp, n_cent=_IVF_NCENT, nprobe=_IVF_NPROBE, k=_BITEXT_K, centroids=cent_t
    ).select("src_id", "tgt_id")

    # Round-12 restructure: the count/overlap tail was five aggregate
    # subtrees over three eager checkpoints; a tagged union keyed on
    # the pair folds it into one pair-keyed max + one scalar aggregate
    # (n_hit_ivf == |ivf_u INTERSECT brute| == sum(u*b), etc.).  Each
    # miner is referenced exactly ONCE, so nothing needs materializing
    # (the lsh_recall_audit TreeNode blowup came from re-inlining per
    # reference) and the whole audit evaluates in one job.
    def _tag(df, b, u, t):
        return df.select(
            "src_id",
            "tgt_id",
            F.lit(b).alias("b"),
            F.lit(u).alias("u"),
            F.lit(t).alias("t"),
        )

    per_pair = (
        _tag(brute, 1, 0, 0)
        .unionByName(_tag(ivf_u, 0, 1, 0))
        .unionByName(_tag(ivf_t, 0, 0, 1))
        .groupBy("src_id", "tgt_id")
        .agg(
            F.max("b").alias("b"),
            F.max("u").alias("u"),
            F.max("t").alias("t"),
        )
    )
    zero = F.lit(0)  # empty pair relation: sum() is NULL, count() was 0
    scalars = per_pair.agg(
        F.coalesce(F.sum("b"), zero).cast("long").alias("n_brute"),
        F.coalesce(F.sum("u"), zero).cast("long").alias("n_ivf"),
        F.coalesce(F.sum(F.col("u") * F.col("b")), zero)
        .cast("long")
        .alias("n_hit_ivf"),
        F.coalesce(F.sum("t"), zero).cast("long").alias("n_ivf_trained"),
        F.coalesce(F.sum(F.col("t") * F.col("b")), zero)
        .cast("long")
        .alias("n_hit_trained"),
    )
    nv = samp.agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    out = nv.crossJoin(F.broadcast(scalars))
    ppm_u = (
        F.when(F.col("n_brute") > 0, F.expr("(n_hit_ivf * 1000000) div n_brute"))
        .otherwise(F.lit(1000000))
        .cast("long")
    )
    ppm_t = (
        F.when(F.col("n_brute") > 0, F.expr("(n_hit_trained * 1000000) div n_brute"))
        .otherwise(F.lit(1000000))
        .cast("long")
    )
    return out.select(
        "n_vecs",
        "n_brute",
        "n_ivf",
        "n_hit_ivf",
        ppm_u.alias("recall_ivf_ppm"),
        "n_ivf_trained",
        "n_hit_trained",
        ppm_t.alias("recall_trained_ppm"),
    )
