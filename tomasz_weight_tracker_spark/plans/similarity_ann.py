"""Similarity and ANN catalog queries: exact and IVF kNN, embedding LSH,
product quantization, IVFADC search and its audits, BM25, lexical
cosine and proximity search, and margin-based bitext mining.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import Window

from ..functions import md5_long, md5_long_sql, tokens
from ..operators import similarity as S
from ..operators import text_analysis as TA
from ..operators.clusters import canonicalize, connected_components, sql_connected_components
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


def _sql_ranked(topk: int, final: str = "ranked") -> str:
    """CTE ``{final}`` = (q_id, neighbor_id, rank, adc_dist), rank <=
    ``topk``: the per-query ascending ADC ranking of CTE ``adc`` —
    shared by the flat-PQ and IVFADC replay chains."""
    return f""",
    {final} AS (SELECT q_id, neighbor_id, rank, adc_dist FROM (
        SELECT q_id, neighbor_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY adc_dist, neighbor_id)::BIGINT AS rank,
               adc_dist
        FROM adc) WHERE rank <= {topk})"""


def _sql_pq_ranked(q_pred: str, topk: int) -> str:
    """CTEs codes, dtab, adc, ranked over :func:`sql_pq_chain`: the
    flat-PQ ADC top-``topk`` of the query vectors ``subs.vec_id``
    selected by ``q_pred`` — shared by the search and its recall
    audit."""
    isq = (
        "list_sum(list_transform(range(1, 17), "
        "i -> (subs.sv[i] - c.qc[i]) * (subs.sv[i] - c.qc[i])))"
    )
    return f""",
    codes AS (SELECT vec_id, m, centroid_id FROM (
        SELECT subs.vec_id, subs.m, c.centroid_id,
               row_number() OVER (PARTITION BY subs.vec_id, subs.m
                   ORDER BY {isq}, c.centroid_id) AS rn
        FROM subs JOIN cent c USING (m)) WHERE rn = 1),
    dtab AS (SELECT subs.vec_id AS q_id, c.m, c.centroid_id, {isq}::BIGINT AS d
             FROM subs JOIN cent c USING (m) WHERE {q_pred}),
    adc AS (SELECT dtab.q_id, codes.vec_id AS neighbor_id,
                   sum(dtab.d)::BIGINT AS adc_dist
            FROM codes JOIN dtab USING (m, centroid_id)
            WHERE codes.vec_id <> dtab.q_id
            GROUP BY 1, 2)""" + _sql_ranked(topk)


def _pq_topk_oracle() -> str:
    from ..operators.similarity import sql_pq_chain

    return (
        "WITH "
        + sql_pq_chain()
        + _sql_pq_ranked("subs.vec_id < 5", 5)
        + """
    SELECT q_id, neighbor_id, rank, adc_dist FROM ranked"""
    )


def _pq_index(spark, sf_dir):
    """The flat PQ index over every embedding: the trained codebook
    (m, centroid_id, qc) and the packed codes (vec_id, pq_code)."""
    from ..operators.similarity import pq_codes, pq_train

    e = load(spark, sf_dir, "embeddings")
    cents = pq_train(e)
    return cents, pq_codes(e, cents)


def _adc_scores(q, cents, codes, cell=()):
    """Asymmetric (ADC) distances from the quantized queries ``q`` =
    (q_id, *keys, qv) to the coded vectors ``codes`` = (vec_id, *cell,
    pq_code) — the one ADC scorer behind the PQ search, the IVFADC
    search and both recall audits.  Each query's M x K integer table of
    sub-vector-to-subcentroid distances (``cents`` = (m, centroid_id,
    qc)) is broadcast; each candidate's packed code unpacks into M
    subcentroid ids, and its distance is the sum of M table lookups
    within the same ``cell`` (the IVF coarse cell; none for flat PQ).
    Returns (q_id, neighbor_id, adc_dist), the query itself excluded,
    plus the min ``probe_rank`` when the queries carry one."""
    from ..operators.similarity import PQ_K, PQ_M, _isqdist, _sub

    subdim = 64 // PQ_M
    bits = max((PQ_K - 1).bit_length(), 1)
    keys = [c for c in q.columns if c not in ("q_id", "qv")]
    qsub = q.select(
        "q_id",
        *keys,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("m"), _sub(F.col("qv"), j, subdim).alias("sv"))
                    for j in range(PQ_M)
                ]
            )
        ).alias("s"),
    ).select("q_id", *keys, "s.m", "s.sv")
    dtab = qsub.join(F.broadcast(cents), "m").select(
        "q_id", *keys, "m", "centroid_id", _isqdist(F.col("sv"), F.col("qc")).alias("d")
    )
    cand = codes.select(
        F.col("vec_id").alias("neighbor_id"),
        *cell,
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
    ).select("neighbor_id", *cell, "c.m", "c.centroid_id")
    probe = (
        [F.min("probe_rank").cast("long").alias("probe_rank")]
        if "probe_rank" in keys
        else []
    )
    return (
        cand.join(F.broadcast(dtab), [*cell, "m", "centroid_id"])
        .filter(F.col("neighbor_id") != F.col("q_id"))
        .groupBy("q_id", "neighbor_id")
        .agg(F.sum("d").cast("long").alias("adc_dist"), *probe)
    )


def _adc_topk(adc, topk):
    """(q_id, neighbor_id, rank, adc_dist): per-query ascending top-k,
    neighbor id as tiebreak (the Spark twin of :func:`_sql_ranked`)."""
    w = Window.partitionBy("q_id").orderBy("adc_dist", "neighbor_id")
    return (
        adc.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= topk)
        .select("q_id", "neighbor_id", "rank", "adc_dist")
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
    from ..operators.similarity import _qvec

    q = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("q_id"), _qvec(F.col("embedding")).alias("qv"))
    )
    return _adc_topk(_adc_scores(q, *_pq_index(spark, sf_dir)), 5)


# ===========================================================================
# PQ/ADC recall audit (the lsh_recall_audit counterpart for ANN search)
# ===========================================================================

PQA_N = 32  # fixed query-sample size: audit cost is Q*N however big N
PQA_TOPK = 10


def _pqa_qsel_sql() -> str:
    """Query-set predicate (over ``e``) selecting the PQA_N md5 sample."""
    pri = md5_long_sql("'pqa:' || CAST(vec_id AS VARCHAR)")
    return (
        f"e.vec_id IN (SELECT vec_id FROM (SELECT vec_id, "
        f"row_number() OVER (ORDER BY {pri}, vec_id) AS rn FROM e) "
        f"WHERE rn <= {PQA_N})"
    )


def _pqa_exact_ctes(qrel: str = "exq") -> str:
    """CTE fragment (samp, exact) — the exact integer-L2 ground truth
    on the PQA_N md5 sample of ``e``, over the e6-quantized vectors
    ``qrel`` = (vec_id, qv); the default ``exq`` is built here from
    ``e``'s raw vectors ``v``.  Shared by both recall audits and the
    nprobe autotune oracles."""
    pri = md5_long_sql("'pqa:' || CAST(vec_id AS VARCHAR)")
    isq_full = (
        "list_sum(list_transform(range(1, 65), "
        "i -> (s.qv[i] - c2.qv[i]) * (s.qv[i] - c2.qv[i])))"
    )
    exq = (
        """,
    exq AS (SELECT vec_id,
                   list_transform(v, x -> floor(x * 1000000)::BIGINT) AS qv
            FROM e)"""
        if qrel == "exq"
        else ""
    )
    return exq + f""",
    samp AS (SELECT vec_id FROM (
        SELECT vec_id, row_number() OVER (ORDER BY {pri}, vec_id) AS rn
        FROM e) WHERE rn <= {PQA_N}),
    exact AS (SELECT q_id, neighbor_id, rnk FROM (
        SELECT s.vec_id AS q_id, c2.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY s.vec_id
                   ORDER BY {isq_full}, c2.vec_id) AS rnk
        FROM {qrel} s JOIN samp USING (vec_id), {qrel} c2
        WHERE c2.vec_id <> s.vec_id) WHERE rnk <= {PQA_TOPK})"""


def _sql_recall_tail() -> str:
    """The audit row of CTE ``ranked`` against the (samp, exact) truth."""
    return f""",
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


def _pq_audit_oracle() -> str:
    from ..operators.similarity import sql_pq_chain

    return (
        "WITH "
        + sql_pq_chain()
        + _pqa_exact_ctes("e")
        + _sql_pq_ranked("subs.vec_id IN (SELECT vec_id FROM samp)", PQA_TOPK)
        + _sql_recall_tail()
    )


def _pqa_sample_exact(spark, sf_dir):
    """The PQA_N md5-sampled query set and its exact integer-L2
    ground truth (q_id, neighbor_id, rnk <= PQA_TOPK) — shared by both
    recall audits and the nprobe autotune so the instrument cannot
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


def _recall_row(samp, exact, ranked):
    """The audit row (n_queries, k, n_true, n_hit, recall_ppm,
    n_top1_hit) of a top-PQA_TOPK search ``ranked`` against the exact
    truth.  Round 12: one left join from the exact top-k to the search
    top-k (both unique on (q_id, neighbor_id)) folds the three counts
    into ONE aggregate, where three aggregate subtrees needed both
    sides checkpointed; each side is now referenced once."""
    per = exact.join(
        ranked.select("q_id", "neighbor_id", F.lit(1).alias("in_adc")),
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
    samp, exact = _pqa_sample_exact(spark, sf_dir)
    q = samp.select("q_id", F.col("qa").alias("qv"))
    ranked = _adc_topk(_adc_scores(q, *_pq_index(spark, sf_dir)), PQA_TOPK)
    return _recall_row(samp, exact, ranked)


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
    nprobe: int | None = None,
    probe_rank: bool = False,
) -> str:
    """IVFADC replay chain, parameterized on the query-set predicate
    (over ``e``), k, and probe depth — shared by the search query,
    the recall audit, and the nprobe autotune so layout and
    instrument cannot drift.  Ends in ``ranked`` = (q_id,
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
    return chain if probe_rank else chain + _sql_ranked(topk)


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
    from ..operators.similarity import PQ_Q, ivf_assign, pq_codes, pq_train

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
    ).withColumnRenamed("centroid_id", "coarse_id")

    wq = Window.partitionBy("q_id").orderBy(
        F.col("__score").desc(), F.col("centroid_id")
    )
    pr_cols = [F.col("__rn").cast("long").alias("probe_rank")] if probe_rank else []
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
            ).alias("qv"),
        )
    )
    adc = _adc_scores(probes, pqc, codes, cell=("coarse_id",))
    return adc if probe_rank else _adc_topk(adc, topk)


def _ivfadc_audit_oracle() -> str:
    return (
        "WITH "
        + _ivfadc_chain(_pqa_qsel_sql(), PQA_TOPK)
        + _pqa_exact_ctes()
        + _sql_recall_tail()
    )


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
    ranked = _ivfadc_rank(spark, sf_dir, samp.select("q_id", "qv_raw"), PQA_TOPK)
    return _recall_row(samp, exact, ranked)


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


@register(
    "embed_knn",
    """
    WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_vec FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS c_vec FROM embeddings)
    SELECT q_id, neighbor_id,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY list_dot_product(q_vec, c_vec) DESC, neighbor_id)::BIGINT AS rank,
           list_dot_product(q_vec, c_vec) AS score
    FROM q JOIN c ON q_id <> neighbor_id
    QUALIFY rank <= 5
    """,
    survey_ids=(),
    doc="Brute-force cosine top-k ANN baseline (unit-norm vectors: "
    "cosine == dot).  Broadcast queries, map-side fold dot product.",
)
def q_embed_knn(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    out = S.brute_force_topk(
        e.filter(F.col("vec_id") < 5), e, id_col="vec_id", vec_col="embedding", k=5
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@register(
    "embed_centroid",
    """
    SELECT label, i::BIGINT AS pos,
           sum(floor(embedding[i]::DOUBLE * 1000000000)::BIGINT)::DOUBLE
             / count(*) / 1000000000 AS mean_component
    FROM embeddings, generate_series(1, 64) t(i)
    GROUP BY label, pos
    """,
    survey_ids=("A1",),
    doc="Per-label centroid.  Components are quantized to 1e-9 via floor "
    "(bit-deterministic on identical doubles, unlike decimal-cast "
    "rounding) so the mean is an exact integer sum in both engines.",
)
def q_embed_centroid(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    q = F.floor(F.col("col") * F.lit(1000000000.0)).cast("long")
    return (
        e.select("label", F.posexplode(F.col("embedding").cast("array<double>")))
        .select("label", (F.col("pos") + 1).cast("long").alias("pos"), F.col("col"))
        .groupBy("label", "pos")
        .agg(
            (
                F.sum(q).cast("double") / F.count(F.lit(1)) / F.lit(1000000000.0)
            ).alias("mean_component")
        )
    )


# Probe the 2 nearest of the centroids ``cent`` (centroid_id, cv) per
# query and rank exactly within them — over ``e`` (vec_id, v); shared by
# the fixed- and trained-centroid IVF oracles.
_SQL_IVF_PROBE_TOPK = """
    amap AS (
      SELECT vec_id, v, centroid_id FROM (
        SELECT e.vec_id, e.v, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY list_dot_product(e.v, c.cv) DESC, c.centroid_id) AS rn
        FROM e CROSS JOIN cent c) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
    probed AS (
      SELECT q_id, qv, centroid_id FROM (
        SELECT q.q_id, q.qv, c.centroid_id,
               row_number() OVER (PARTITION BY q.q_id
                                  ORDER BY list_dot_product(q.qv, c.cv) DESC, c.centroid_id) AS rn
        FROM q CROSS JOIN cent c) WHERE rn <= 2
    ),
    cand AS (
      SELECT p.q_id, a.vec_id AS neighbor_id, list_dot_product(p.qv, a.v) AS score
      FROM probed p JOIN amap a ON p.centroid_id = a.centroid_id
      WHERE a.vec_id <> p.q_id
    )
    SELECT q_id, neighbor_id,
           row_number() OVER (PARTITION BY q_id ORDER BY score DESC, neighbor_id)::BIGINT AS rank,
           score
    FROM cand QUALIFY rank <= 5
    """


def _ivf_probe_topk(e, centroids):
    """Spark twin of ``_SQL_IVF_PROBE_TOPK``."""
    assigned = S.ivf_assign(e, centroids)
    queries = e.filter(F.col("vec_id") < 5)
    out = S.ivf_topk(queries, assigned, centroids, k=5, nprobe=2)
    return out.withColumn("rank", F.col("rank").cast("long"))


@register(
    "embed_ivf_topk",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),"""
    + _SQL_IVF_PROBE_TOPK,
    survey_ids=(),
    doc="IVF-bucketed ANN (scale path): deterministic argmax assignment "
    "to the nearest of 8 coarse centroids, probe the 2 closest buckets "
    "per query, exact top-k within.  The oracle replays the same "
    "deterministic pruning, so the check is exact despite IVF being a "
    "physical strategy.",
)
def q_embed_ivf_topk(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    centroids = (
        e.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("centroid_id"), "embedding")
    )
    return _ivf_probe_topk(e, centroids)


@register(
    "embed_ivf_trained",
    f"""
    WITH {S.sql_ivf_train(n_centroids=8, iterations=2, dim=64)},"""
    + _SQL_IVF_PROBE_TOPK,
    survey_ids=(),
    doc="IVF with TRAINED centroids: two Lloyd k-means rounds in pure "
    "DataFrame ops (broadcast-assign + posexplode/groupBy re-centroid, "
    "1e-9-quantized exact means), deterministic md5 init.  The oracle "
    "replays the whole training as a CTE chain, so even the learned "
    "centroids are cross-engine bit-identical.",
)
def q_embed_ivf_trained(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return _ivf_probe_topk(e, trained_ivf_centroids(spark, sf_dir, 8, 2))


@register(
    "embed_quantize",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e),
    q AS (SELECT vec_id, maxabs,
                 list_transform(v, x -> floor(x * 127.0 / maxabs)::BIGINT) AS qv
          FROM m)
    SELECT vec_id,
           floor(maxabs * 1000000000)::BIGINT AS maxabs_e9,
           list_sum(qv)::BIGINT AS q_sum,
           list_min(qv)::BIGINT AS q_min,
           list_max(qv)::BIGINT AS q_max
    FROM q
    """,
    survey_ids=(),
    doc="Symmetric int8 embedding quantization (the 4x storage cut a "
    "100 TB vector corpus takes before indexing): per-vector absmax "
    "scale, floor(x*127/absmax) codes in [-128, 127].  Per-row "
    "arithmetic on the array — zero shuffle; floor makes the codes "
    "bit-deterministic (round-half ties differ across engines). "
    "Precondition: vectors are non-zero (unit-norm upstream).",
)
def q_embed_quantize(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    d = e.select("vec_id", v.alias("__v"))
    d = d.withColumn(
        "__maxabs", F.array_max(F.transform(F.col("__v"), lambda x: F.abs(x)))
    )
    qv = F.transform(
        F.col("__v"),
        lambda x: F.floor(x * F.lit(127.0) / F.col("__maxabs")).cast("long"),
    )
    d = d.select("vec_id", "__maxabs", qv.alias("__qv"))
    return d.select(
        "vec_id",
        F.floor(F.col("__maxabs") * F.lit(1000000000.0)).cast("long").alias("maxabs_e9"),
        F.aggregate(F.col("__qv"), F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_min(F.col("__qv")).alias("q_min"),
        F.array_max(F.col("__qv")).alias("q_max"),
    )


# 24 deterministic integer hyperplanes over the first 32 dims, banded
# 2 x 12 bits.  Sign bits are computed in EXACT integer arithmetic
# (embedding components floor-quantized to 2^20, plane components in
# [-8, 8] from md5), so the signature — unlike a float dot-product
# sign — cannot flip between engines on a last-ulp difference.
_EMB_BITS, _EMB_BANDS, _EMB_DIMS, _EMB_Q = 24, 2, 32, 1048576.0
_EMB_ROWS = _EMB_BITS // _EMB_BANDS


def _emb_plane(j: int) -> list[int]:
    import hashlib

    return [
        (int(hashlib.md5(f"plane_{j}_{i}".encode()).hexdigest()[:15], 16) % 17) - 8
        for i in range(_EMB_DIMS)
    ]


_EMB_PLANES = [_emb_plane(j) for j in range(_EMB_BITS)]


def _emb_band_sql(b: int) -> str:
    terms = []
    for t in range(_EMB_ROWS):
        p = "[" + ",".join(map(str, _EMB_PLANES[_EMB_ROWS * b + t])) + "]"
        terms.append(
            f"CASE WHEN list_sum(list_transform(qv, (x,i) -> x * {p}[i])) > 0 "
            f"THEN {1 << t} ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


# CTEs e, q, sig, banded: one row per (non-zero vector, band) with its
# integer sign-bit band key — shared by the pair and cluster oracles.
_SQL_EMB_BANDED = f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
               WHERE len(list_filter(embedding, x -> x <> 0)) > 0),
    q AS (SELECT vec_id, emb,
                 list_transform((emb)[1:{_EMB_DIMS}],
                                x -> floor(x * {_EMB_Q})::BIGINT) AS qv
          FROM e),
    sig AS (SELECT vec_id, emb, {_emb_band_sql(0)} AS b0, {_emb_band_sql(1)} AS b1
            FROM q),
    banded AS (
        SELECT vec_id, emb, 0 AS band_id, b0 AS band_key FROM sig
        UNION ALL
        SELECT vec_id, emb, 1 AS band_id, b1 AS band_key FROM sig)"""


@register(
    "embed_lsh_near_dup",
    "WITH "
    + _SQL_EMB_BANDED
    + f"""
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
           floor({S.sql_cosine('a.emb', 'b.emb')} * 1000000.0)::BIGINT AS cos_e6,
           (floor({S.sql_cosine('a.emb', 'b.emb')} * 1000000.0) >= 250000) AS is_near
    FROM banded a JOIN banded b
      ON a.band_id = b.band_id AND a.band_key = b.band_key
     AND a.vec_id < b.vec_id
    """,
    survey_ids=(),
    doc="Vector near-dup via random-hyperplane LSH (the dedup-oriented "
    "ANN path, complementing brute-force kNN and IVF): 24 sign bits "
    "from integer-exact quantized dot products against md5-derived "
    "hyperplanes, banded 2x12 so only bucket-mates pair (candidate "
    "rate ~2/4096 of all pairs); full-precision cosine then scores "
    "each candidate.  Same single-join shape as lsh_near_dup: the "
    "embedding rides THROUGH the band join, no second join and no "
    "corpus-side broadcast.  Integer sign bits make the bucketing "
    "bit-portable; the cosine fold matches DuckDB evaluation order.  "
    "Zero-norm vectors are excluded up front (NaN cosine casts "
    "differently per engine and means nothing).",
)
def q_embed_lsh_near_dup(spark, sf_dir):
    # Zero vectors are excluded in BOTH engines: their cosine is 0/0,
    # where Spark's floor(NaN)::long yields 0 but DuckDB's cast raises
    # — and a NaN "similarity" is meaningless anyway.  The exists()
    # predicate is exact (no float accumulation).
    e = (
        load(spark, sf_dir, "embeddings")
        .filter(F.exists("embedding", lambda x: x != 0.0))
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )
    q = e.withColumn(
        "__qv",
        F.transform(
            F.slice("emb", 1, _EMB_DIMS),
            lambda x: F.floor(x * F.lit(_EMB_Q)).cast("long"),
        ),
    )

    def _mul(plane):
        # Closure factory: a default-arg lambda would change the
        # introspected arity (F.transform treats 2 params as
        # (element, index)); the plane must be captured by closure.
        return lambda x, i: x * F.element_at(plane, i + 1)

    def _band(b: int):
        val = F.lit(0)
        for t in range(_EMB_ROWS):
            plane = F.array(*[F.lit(p) for p in _EMB_PLANES[_EMB_ROWS * b + t]])
            s = F.aggregate(
                F.transform(F.col("__qv"), _mul(plane)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            val = val + F.when(s > 0, F.lit(1 << t)).otherwise(F.lit(0))
        return val

    banded = q.select(
        "vec_id",
        "emb",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"), _band(b).alias("band_key")
                    )
                    for b in range(_EMB_BANDS)
                ]
            )
        ).alias("band"),
    ).select("vec_id", "emb", "band.band_id", "band.band_key")
    a, b = banded.alias("a"), banded.alias("b")
    cos_e6 = F.floor(
        S.cosine(F.col("a.emb"), F.col("b.emb")) * F.lit(1000000.0)
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cos_e6.alias("cos_e6"),
            (cos_e6 >= F.lit(250000)).alias("is_near"),
        )
        .distinct()
    )


# ===========================================================================
# BM25 lexical retrieval (search-side twin of the embedding ANN path)
# ===========================================================================

# Query terms are a fixed constant set (in production they arrive as a
# parameter; the plan is identical — per-term tf columns are generated
# from the parsed query).  k1/b are the standard BM25 defaults.  The
# idf is Robertson's RATIONAL form (N - df + 0.5)/(df + 0.5) WITHOUT
# the log: ln() is not bit-portable across engines (last-ulp differs),
# while +,-,*,/ on doubles are IEEE-exact everywhere, so the rational
# variant keeps the oracle hash-exact.  Monotonicity in df is the same
# (log is monotone), so per-term ranking behavior is preserved; the
# cross-term mixing differs from textbook BM25 and is documented as
# this engine's scoring variant.
_BM25_TERMS = ("hash", "join", "spark")
_BM25_TOP = 20


def _bm25_term_sql(t: str) -> str:
    """DuckDB: per-term score given tf_<t>, dl, and the stats columns.

    Every float literal is e-notation: DuckDB parses plain decimals as
    DECIMAL, which double-rounds differently from a DOUBLE literal.
    (1-b) is pre-folded to 2.5e-1 so both engines add the same
    constants in the same order."""
    tf = f"cast(tf_{t} as double)"
    idf = f"((cast(n_docs as double) - cast(df_{t} as double)) + 5e-1) / (cast(df_{t} as double) + 5e-1)"
    denom = f"({tf} + 1.2e0 * (2.5e-1 + 7.5e-1 * (cast(dl as double) / avgdl)))"
    return f"({idf}) * (({tf} * 2.2e0) / {denom})"


def _bm25_oracle() -> str:
    from ..operators.text_analysis import sql_tokens

    tok = sql_tokens("lower(text)")
    tf_cols = ", ".join(
        f"len(list_filter({tok}, x -> x = '{t}'))::BIGINT AS tf_{t}"
        for t in _BM25_TERMS
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END)::BIGINT AS df_{t}"
        for t in _BM25_TERMS
    )
    score = " + ".join(_bm25_term_sql(t) for t in _BM25_TERMS)
    any_tf = " + ".join(f"tf_{t}" for t in _BM25_TERMS)
    return f"""
    WITH d AS (
        SELECT doc_id, len({tok})::BIGINT AS dl, {tf_cols}
        FROM documents
    ), stats AS (
        SELECT count(*)::BIGINT AS n_docs,
               cast(sum(dl) as double) / cast(count(*) as double) AS avgdl,
               {df_cols}
        FROM d
    )
    SELECT doc_id, floor(({score}) * 1e6)::BIGINT AS score_e6
    FROM d CROSS JOIN stats
    WHERE {any_tf} > 0
    ORDER BY ({score}) DESC, doc_id
    LIMIT {_BM25_TOP}
    """


@register(
    "bm25_search",
    _bm25_oracle(),
    survey_ids=("G2", "A1", "O5"),
    doc="BM25 lexical top-k retrieval over the documents table — the "
    "sparse/lexical counterpart to embed_knn/embed_ivf_topk in a "
    "training-data search stack (dedup forensics, benchmark leakage "
    "lookups, corpus QA all need 'find documents matching these "
    "terms' without embeddings).  Plan shape: per-row tf/dl columns "
    "(array_filter counts, zero shuffle), ONE tiny corpus-stats "
    "aggregate (N, avgdl, per-term df) broadcast back via crossJoin, "
    "scoring fully codegen'd per row, TakeOrderedAndProject for the "
    "top-k — the corpus is scanned twice and shuffled never.  The "
    "idf is Robertson's rational (N-df+.5)/(df+.5) without ln(): "
    "log is not bit-portable across engines, rational arithmetic is "
    "(documented scoring variant; ranking per term is order-"
    "equivalent).  At 100 TB the stats aggregate is map-side partial "
    "+ 1-row result, and the top-k never materializes a global sort.",
)
def q_bm25_search(spark, sf_dir):
    from ..functions import tokens

    docs = load(spark, sf_dir, "documents")
    tok = tokens(F.lower(F.col("text")))

    def _tf(term):
        # Closure factory: `lambda x, t=term` would bind the ELEMENT
        # INDEX to t (2-arg higher-order lambdas are (element, index)).
        return F.size(F.filter(tok, lambda x: x == F.lit(term))).cast("long")

    d = docs.select(
        "doc_id",
        F.size(tok).cast("long").alias("dl"),
        *[_tf(t).alias(f"tf_{t}") for t in _BM25_TERMS],
    )
    stats = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0))
            .cast("long")
            .alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    scored = d.crossJoin(F.broadcast(stats))
    score = None
    for t in _BM25_TERMS:
        term = F.expr(_bm25_term_sql(t))
        score = term if score is None else (score + term)
    any_tf = None
    for t in _BM25_TERMS:
        c = F.col(f"tf_{t}")
        any_tf = c if any_tf is None else (any_tf + c)
    return (
        scored.filter(any_tf > 0)
        .withColumn("__score", score)
        .orderBy(F.col("__score").desc(), "doc_id")
        .limit(_BM25_TOP)
        .select(
            "doc_id",
            F.floor(F.col("__score") * F.lit(1e6)).cast("long").alias("score_e6"),
        )
    )


# ===========================================================================
# Lexical cosine near-dup (rare-feature sparse-vector similarity join)
# ===========================================================================

# Feature space = 5-char shingles with document frequency in
# [2, _LEXCOS_DF_MAX].  df=1 features cannot produce a pair; features
# above the cap are corpus-common boilerplate, excluded both to bound
# pair emission (<= cap^2/2 pairs per feature — the same absolute-cap
# discipline as LSH banding and the fuzzy join) and because shared
# COMMON substrings are not near-dup evidence.  Vectors are binary
# (shingle sets), so every accumulation is an exact integer COUNT and
# the only float ops are one sqrt and one division — bit-portable.
_LEXCOS_DF_MAX = 16
_LEXCOS_MIN_E6 = 500000


@register(
    "lexical_cosine_pairs",
    f"""
    WITH n AS (
        SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS t
        FROM documents
    ), s AS (
        SELECT doc_id,
               CASE WHEN length(t) >= 5
                    THEN list_distinct(list_transform(range(1, length(t) - 3),
                                                      i -> substr(t, i::INT, 5)))
                    ELSE [t] END AS sh
        FROM n
    ), p AS (SELECT doc_id, unnest(sh) AS g FROM s),
    d AS (SELECT g, count(*)::BIGINT AS df FROM p GROUP BY g),
    rare AS (
        SELECT p.doc_id, p.g FROM p JOIN d ON p.g = d.g
        WHERE d.df >= 2 AND d.df <= {_LEXCOS_DF_MAX}
    ),
    norms AS (SELECT doc_id, count(*)::BIGINT AS nn FROM rare GROUP BY doc_id),
    dots AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS dot
        FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, dot,
           floor((cast(dot as double)
                  / sqrt(cast(na.nn * nb.nn as double))) * 1e6)::BIGINT AS cos_e6
    FROM dots JOIN norms na ON dots.id_a = na.doc_id
              JOIN norms nb ON dots.id_b = nb.doc_id
    WHERE floor((cast(dot as double)
                 / sqrt(cast(na.nn * nb.nn as double))) * 1e6) >= {_LEXCOS_MIN_E6}
    """,
    survey_ids=("A7", "G5"),
    doc="Lexical cosine near-dup via RARE-feature sparse vectors: "
    "binary 5-char-shingle vectors restricted to features with "
    f"corpus df in [2, {_LEXCOS_DF_MAX}], pairs expanded IN-ROW from "
    "each rare feature's sorted posting list (<= df_max^2/2 pairs "
    "per feature — no pair-relation self-join, one corpus explode "
    "total), cosine = shared / sqrt(|A| * |B|) over that subspace.  "
    "Completes the dedup "
    "matrix's lexical-cosine cell (exact hash, MinHash-LSH, SimHash, "
    "n-gram Jaccard, SNM, embedding-LSH already present): unlike "
    "Jaccard it is robust to size asymmetry (a doc embedded inside a "
    "10x larger one still scores), and the rare-feature restriction "
    "is what makes the pairwise stage scale-safe — a feature emits "
    f"at most {_LEXCOS_DF_MAX}*{_LEXCOS_DF_MAX - 1}/2 pairs, "
    "corpus-common features are excluded by construction, and the "
    "shingle vocabulary saturates (measured: ~2k shingles at both "
    "sf0.01 and sf0.1).  All accumulations are integer counts; the "
    "single sqrt and divide are IEEE-correctly-rounded, so the "
    "oracle is hash-exact.  Degenerate-corpus behavior (measured in "
    "the 10x verbatim-duplication soak): mass duplication pushes "
    "every feature's df over the cap and the op returns ZERO pairs — "
    "correct posture, not a bug: on such a corpus exact dedup / "
    "dup_clusters is the right first pass (the curation pipeline "
    "order), and rare-feature cosine is for what remains after it.",
)
def q_lexical_cosine_pairs(spark, sf_dir):
    d, sh = TA.char_shingles(load(spark, sf_dir, "documents"))
    p = d.select("doc_id", F.explode(sh).alias("g"))
    # ONE corpus pass: per-gram sorted posting lists with the df cap
    # applied as a size filter.  The first cut of this query kept the
    # (doc, gram) pair relation and self-joined it — the pair relation
    # fed four branches, Catalyst does not CSE shared subtrees, and
    # the corpus-wide shingle explode ran EIGHT times (6.3 s at
    # sf0.1).  Collapsing to posting lists makes the explode+exchange
    # a single subtree (AQE exchange reuse dedups its two tiny
    # consumers), pairs come from an in-row combination expansion
    # bounded by df_max^2/2 per gram, and norms re-explode the <=
    # df_max-element lists — 6.3 s -> ~2.5 s with no cache and no
    # eager materialization to hide cost from the bench timer.
    posts = (
        p.groupBy("g")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= _LEXCOS_DF_MAX))
    )
    norms = (
        posts.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("nn"))
    )
    # (x, i) lambda = (element, index) — the index is wanted here:
    # pairs (ds[i], ds[j]) for i < j over the SORTED list, so id_a <
    # id_b by construction.
    pair_structs = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    dots = (
        posts.select(F.explode(pair_structs).alias("pr"))
        .groupBy(F.col("pr.id_a").alias("id_a"), F.col("pr.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("nn").alias("na"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("nn").alias("nb"))
    cos_e6 = F.floor(
        (F.col("dot").cast("double") / F.sqrt((F.col("na") * F.col("nb")).cast("double")))
        * F.lit(1e6)
    ).cast("long")
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", "dot", cos_e6.alias("cos_e6"))
        .filter(F.col("cos_e6") >= _LEXCOS_MIN_E6)
    )


# ===========================================================================
# Embedding duplicate clusters (vector LSH pairs -> transitive closure)
# ===========================================================================


@register(
    "embed_dup_clusters",
    "WITH RECURSIVE "
    + _SQL_EMB_BANDED
    + f""",
    cand AS (
        SELECT DISTINCT a.vec_id AS u, b.vec_id AS v
        FROM banded a JOIN banded b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.vec_id < b.vec_id
        WHERE floor({S.sql_cosine('a.emb', 'b.emb')} * 1000000.0) >= 250000
    ),
    {sql_connected_components("cand")}
    SELECT component, count(*)::BIGINT AS n_members, min(id) AS canonical_id
    FROM comp GROUP BY component
    """,
    survey_ids=("A7",),
    doc="Vector duplicate-CLUSTER resolution: the embedding-LSH "
    "near-dup pairs (random-hyperplane bands, full-precision cosine "
    ">= 0.25 verify) feed the same min-label-propagation transitive "
    "closure the text pipeline uses — if A~B and B~C the three share "
    "one cluster even though (A, C) was never a candidate.  "
    "Completes the matrix symmetrically: every dedup signal family "
    "(exact hash, MinHash-LSH, lexical cosine, embedding LSH) now "
    "has both a PAIR view and a canonical-member CLUSTER view.  "
    "Scale posture inherits from its parts: banded candidate "
    "generation (no all-pairs), iterative closure with lineage "
    "truncation and a one-time localCheckpoint of the edge list.",
)
def q_embed_dup_clusters(spark, sf_dir):
    pairs = (
        q_embed_lsh_near_dup(spark, sf_dir)
        .filter(F.col("is_near"))
        .select("id_a", "id_b")
    )
    return canonicalize(connected_components(pairs))


@register(
    "embed_near_dup",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
             AS cosine
    FROM e a JOIN e b
      ON a.label = b.label AND a.vec_id < b.vec_id AND b.vec_id - a.vec_id <= 50
    WHERE list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) > 0.25
    """,
    survey_ids=(),
    doc="Embedding-cosine near-dup: bounded candidate pairs within a "
    "label partition, kept when cosine > 0.25 (the embedding twin of "
    "the MinHash near-dup family).",
)
def q_embed_near_dup(spark, sf_dir):
    from ..operators.similarity import dot

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    a, b = e.alias("a"), e.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / (
        F.sqrt(dot(F.col("a.v"), F.col("a.v"))) * F.sqrt(dot(F.col("b.v"), F.col("b.v")))
    )
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id"))
            & (F.col("b.vec_id") - F.col("a.vec_id") <= 50),
        )
        .withColumn("cosine", cos)
        .filter(F.col("cosine") > 0.25)
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"), "cosine")
    )


_IDX_MIN_DF = 5
_IDX_POSTINGS = 8


@register(
    "inverted_index",
    f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_distinct(regexp_extract_all(lower(text), '\\w+')))
                   AS token
        FROM documents
    )
    SELECT token, count(*)::BIGINT AS df,
           array_to_string(list_slice(list_sort(list(doc_id)), 1,
                                      {_IDX_POSTINGS}), ',') AS postings
    FROM tok GROUP BY token
    HAVING count(*) >= {_IDX_MIN_DF}
    """,
    survey_ids=("G2", "A1"),
    doc="Inverted-index build: token -> document frequency + the first "
    f"{_IDX_POSTINGS} postings (sorted doc ids).  The retrieval-side "
    "primitive of a training-data search stack: per-doc tokens are "
    "de-duplicated BEFORE the explode (array_distinct inside the row "
    "— no shuffle), then one token-keyed aggregation builds the "
    "posting lists; min-df pruning bounds the emitted vocabulary.  "
    "Posting lists are capped, so no single hot token (stopwords) "
    "can blow up a reducer; at full scale the same plan shards by "
    "(token, doc_id range) for unbounded lists.  Unlike doc_novelty "
    "the exchange key stays the token STRING: it is an output column "
    "(grouping by xxhash64 and carrying min(token) ships the same "
    "string in the value slot — zero savings), and map-side partial "
    "aggregation already collapses the exchange to one row per "
    "mapper-distinct token.",
)
def q_inverted_index(spark, sf_dir):
    # widen=False: tokenize-and-explode feeds straight into the group
    # agg's own exchange; a pre-exchange only adds a shuffle (measured
    # x0.68 at sf0.1, 0.24 -> 0.35 s).
    docs = load(spark, sf_dir, "documents", widen=False)
    tok = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.regexp_extract_all(F.lower("text"), F.lit(r"\w+"), 0)
            )
        ).alias("token"),
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.concat_ws(
                ",",
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, _IDX_POSTINGS),
            ).alias("postings"),
        )
        .filter(F.col("df") >= _IDX_MIN_DF)
    )
