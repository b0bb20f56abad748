"""Similarity search over an embedding column (``array<float>``).

Two paths, per the training-data-pipeline mandate:

- **Brute-force cosine top-k** — the exactness baseline.  Query set is
  broadcast (it is small by construction); candidates stream through a
  map-side zip_with/aggregate dot product with NO shuffle until the
  final per-query top-k (a TakeOrderedAndProject per group via window
  row_number).  At 100 TB the candidate scan is embarrassingly
  parallel; cost is one pass.
- **IVF-style bucketed search** — the scale path: assign every vector
  to its nearest of C coarse centroids (one broadcast-map pass), then
  search only the query's ``IVF_NPROBE`` closest buckets.  The candidate
  set shrinks by ~C/IVF_NPROBE; the bucket assignment is a deterministic
  argmax so results are reproducible (and testable) without trained
  centroids.

All dot products are sequential left-to-right folds (``F.aggregate``),
which matches DuckDB's ``list_dot_product`` evaluation order, so
cosine values are bit-identical to the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import md5_long

IVF_NPROBE = 2  # coarse buckets probed per query vector


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def sql_cosine(a: str, b: str) -> str:
    return f"list_cosine_similarity({a}, {b})"


def brute_force_topk(queries: DataFrame, candidates: DataFrame, k: int = 5) -> DataFrame:
    """Exact dot-product top-k neighbors for every query vector
    (``vec_id``, ``embedding``).

    Returns (q_id, neighbor_id, rank, score).  Ties broken by neighbor
    id for determinism.  The query side is broadcast; the candidate
    side is scanned once with no shuffle before the per-query top-k.
    """
    q = queries.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").cast("array<double>").alias("q_vec")
    )
    c = candidates.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("c_vec"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("neighbor_id"))
        .withColumn("score", dot(F.col("q_vec"), F.col("c_vec")))
        .select("q_id", "neighbor_id", "score")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "score")
    )


def ivf_assign(df: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign each ``(vec_id, embedding)`` vector to its nearest
    ``(centroid_id, embedding)`` centroid (max dot product,
    deterministic tiebreak on centroid id).

    Shuffle posture: the scoring join is map-side (broadcast
    centroids) over a NARROW (id, score, -cid) projection, and the
    argmax is ``max(struct(score, -cid))`` — a combinable aggregate,
    so the shuffle carries one pre-combined row per id per input
    partition instead of the N x C full-vector rows a row_number
    window would move (ascending-max over the lexicographic struct ==
    score DESC then centroid_id ASC, the same total order).  The
    vectors rejoin on id afterwards — N narrow rows, never N x C."""
    c = centroids.select(
        F.col("centroid_id"), F.col("embedding").cast("array<double>").alias("cent_vec")
    )
    narrow = (
        df.select("vec_id", F.col("embedding").cast("array<double>").alias("__vec"))
        .join(F.broadcast(c))
        .select(
            "vec_id",
            F.struct(
                dot(F.col("__vec"), F.col("cent_vec")).alias("s"),
                (-F.col("centroid_id")).alias("n"),
            ).alias("__sc"),
        )
    )
    best = (
        narrow.groupBy("vec_id")
        .agg(F.max("__sc").alias("__b"))
        .select("vec_id", (-F.col("__b.n")).alias("centroid_id"))
    )
    return df.join(best, "vec_id")


def ivf_train(df: DataFrame, n_centroids: int = 8, iterations: int = 2) -> DataFrame:
    """Train IVF coarse centroids over ``(vec_id, embedding)``: Lloyd's
    k-means in pure DataFrame ops.

    - **Init**: the ``n_centroids`` vectors with the smallest
      ``md5_long(id)`` — a deterministic pseudo-random sample, planned
      as TakeOrderedAndProject (per-partition top-n + merge, no full
      sort).  At 100 TB you'd swap in ``df.sample`` + k-means‖; the
      md5 order keeps this reproducible AND oracle-replayable.
    - **Each round**: assign via :func:`ivf_assign` (broadcast
      centroids, map-side argmax), re-centroid via posexplode +
      groupBy.  Component means use the 1e-9 floor-quantized integer
      sum (exact, order-independent — same discipline as
      ``embed_centroid``), so the trained centroids are bit-identical
      across engines and runs.
    - ``localCheckpoint`` truncates lineage between rounds (iterative
      algorithm surface, same as connected_components).

    Returns (centroid_id, embedding) with array<double> vectors.
    Empty clusters drop out deterministically (both engines agree).
    """
    e = df.select(
        F.col("vec_id").alias("__id"), F.col("embedding").cast("array<double>").alias("__v")
    )
    hashed = e.withColumn("__h", md5_long(F.col("__id").cast("string")))
    top = hashed.orderBy("__h", "__id").limit(n_centroids)
    # bounded-frame: n_centroids-row frame after limit
    w = Window.orderBy("__h", "__id")
    cents = top.select(
        (F.row_number().over(w) - 1).alias("centroid_id"),
        F.col("__v").alias("embedding"),
    )
    for _ in range(iterations):
        assigned = ivf_assign(
            e.select(F.col("__id").alias("vec_id"), F.col("__v").alias("embedding")), cents
        )
        q = F.floor(F.col("col") * F.lit(1000000000.0)).cast("long")
        comp = (
            assigned.select("centroid_id", F.posexplode(F.col("embedding")))
            .groupBy("centroid_id", "pos")
            .agg(
                (
                    F.sum(q).cast("double") / F.count(F.lit(1)) / F.lit(1000000000.0)
                ).alias("c")
            )
        )
        cents = (
            comp.groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "c"))),
                    lambda s: s["c"],
                ).alias("embedding")
            )
            .localCheckpoint()
        )
    return cents


def sql_ivf_train(n_centroids: int = 8, iterations: int = 2) -> str:
    """DuckDB CTE chain replaying :func:`ivf_train` over the 64-dim
    ``embeddings`` table exactly (same init order, same argmax
    assignment, same quantized means).  Returns the CTE body; the final
    trained centroids are in ``cent`` as (centroid_id, cv)."""
    parts = ["e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"]
    parts.append(
        "c0 AS (SELECT centroid_id, cv FROM ("
        "SELECT row_number() OVER (ORDER BY "
        "('0x' || substr(md5(vec_id::VARCHAR),1,15))::BIGINT, vec_id) - 1 "
        f"AS centroid_id, v AS cv FROM e) WHERE centroid_id < {n_centroids})"
    )
    for r in range(1, iterations + 1):
        parts.append(
            f"a{r} AS (SELECT vec_id, v, centroid_id FROM ("
            "SELECT e.vec_id, e.v, c.centroid_id, "
            "row_number() OVER (PARTITION BY e.vec_id "
            "ORDER BY list_dot_product(e.v, c.cv) DESC, c.centroid_id) AS rn "
            f"FROM e CROSS JOIN c{r - 1} c) WHERE rn = 1)"
        )
        parts.append(
            f"comp{r} AS (SELECT centroid_id, i AS pos, "
            "sum(floor(v[i] * 1000000000)::BIGINT)::DOUBLE / count(*) / 1000000000 AS c "
            f"FROM a{r}, generate_series(1, 64) t(i) GROUP BY centroid_id, pos)"
        )
        parts.append(
            f"c{r} AS (SELECT centroid_id, list(c ORDER BY pos) AS cv "
            f"FROM comp{r} GROUP BY centroid_id)"
        )
    parts.append(f"cent AS (SELECT centroid_id, cv FROM c{iterations})")
    return ",\n    ".join(parts)


def ivf_probe(queries: DataFrame, centroids: DataFrame) -> DataFrame:
    """Route each query to its ``IVF_NPROBE`` nearest coarse centroids
    (max dot product, deterministic centroid-id tiebreak).  Centroids
    are broadcast; one map-side pass plus a frame bounded by
    ``n_centroids`` per query — no corpus-sized shuffle.  Returns
    (q_id, q_vec, centroid_id), one row per probed bucket."""
    c = centroids.select(
        F.col("centroid_id"), F.col("embedding").cast("array<double>").alias("cent_vec")
    )
    q = queries.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").cast("array<double>").alias("q_vec")
    )
    probes = q.join(F.broadcast(c)).withColumn(
        "__score", dot(F.col("q_vec"), F.col("cent_vec"))
    )
    wq = Window.partitionBy("q_id").orderBy(F.col("__score").desc(), F.col("centroid_id"))
    return (
        probes.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= IVF_NPROBE)
        .select("q_id", "q_vec", "centroid_id")
    )


def ivf_topk(
    queries: DataFrame,
    candidates_assigned: DataFrame,
    centroids: DataFrame,
    k: int = 5,
) -> DataFrame:
    """IVF search: probe only the ``IVF_NPROBE`` centroids closest to
    each query, then exact top-k within those buckets.  The candidate
    join is an equi-join on centroid_id — candidates stay partitioned by
    bucket, so only the (tiny) query×probe side moves."""
    probes = ivf_probe(queries, centroids)
    cand = candidates_assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").cast("array<double>").alias("c_vec"),
        "centroid_id",
    )
    scored = (
        cand.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("q_id") != F.col("neighbor_id"))
        .withColumn("score", dot(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "neighbor_id", "rank", "score")
    )


# --- Product quantization (PQ) ---------------------------------------------

# The memory-compression scale path for ANN (Jégou et al. 2011,
# "Product Quantization for Nearest Neighbor Search", public paper):
# split the D-dim vector into M subspaces, k-means each subspace to K
# centroids, store each vector as M small codes (M*log2(K) bits — here
# 4 codes x 4 bits = 2 bytes where the raw vector is 256 bytes), and
# answer queries with an asymmetric distance computation (ADC): a
# per-query M x K lookup table of exact query-to-centroid subdistances,
# summed per candidate through its codes.  At 100 TB this is what
# makes the candidate scan memory-resident: the corpus side never
# touches floats after encoding.
#
# Everything runs in the e6-quantized INTEGER domain so training,
# codes, and ADC distances are bit-identical across engines and
# partitionings (the ivf_train discipline, taken further — even the
# centroids are integers):
#   qv_i   = floor(v_i * 1e6)                 (per component, once)
#   dist   = sum (qv_i - qc_i)^2              (int64-safe: 16 * (2e6)^2
#                                              = 6.4e13 per subspace)
#   qc_i   = portable_floor_div(sum qv_i, n)  (exactly divisible
#                                              adjusted numerator, so
#                                              truncating and flooring
#                                              engines agree)
PQ_M = 4  # subspaces
PQ_K = 16  # centroids per subspace (4-bit codes)
PQ_ITERS = 2
PQ_Q = 1_000_000  # component quantization


def _qvec(vec_col: Column) -> Column:
    return F.transform(vec_col.cast("array<double>"), lambda x: F.floor(x * PQ_Q).cast("long"))


def _isqdist(a: Column, b: Column) -> Column:
    """Integer squared L2 between two array<long> columns (sequential
    fold, order-matched with the oracle's list_sum)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _sub(qv: Column, m: int, subdim: int) -> Column:
    return F.slice(qv, m * subdim + 1, subdim)


def pq_train(
    df: DataFrame,
    dim: int = 64,
    m: int = PQ_M,
    k: int = PQ_K,
    iterations: int = PQ_ITERS,
) -> DataFrame:
    """Train the M*K PQ codebook over ``(vec_id, embedding)``:
    per-subspace Lloyd's k-means in the integer domain.  Init is the K
    vectors with the smallest md5_long(id) (one deterministic sample
    shared by all subspaces — TakeOrderedAndProject, no full sort);
    each round assigns every
    subvector to its nearest centroid (integer L2 argmin, centroid-id
    tiebreak) and re-centroids with the portable floor-div mean.
    Returns (m, centroid_id, qc: array<long>) — M*K rows, an
    always-broadcastable model.

    Shuffle budget per round: the M-subspace explode is per-row; the
    re-centroid is ONE (m, centroid_id)-keyed aggregation with
    map-side combine (at most M*K partial rows per task).  The corpus
    never shuffles on volume; the classic broadcast-the-model /
    aggregate-the-update loop (docs/SCALE.md §9)."""
    subdim = dim // m
    e = df.select(F.col("vec_id").alias("__id"), _qvec(F.col("embedding")).alias("__qv"))
    subs = e.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("m"), _sub(F.col("__qv"), j, subdim).alias("sv"))
                    for j in range(m)
                ]
            )
        ).alias("s"),
    ).select("__id", "s.m", "s.sv")

    hashed = e.withColumn("__h", md5_long(F.col("__id").cast("string")))
    top = hashed.orderBy("__h", "__id").limit(k)
    # bounded-frame: k-row frame after limit
    w = Window.orderBy("__h", "__id")
    init = top.select(
        (F.row_number().over(w) - 1).alias("centroid_id"), F.col("__qv")
    )
    cents = init.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("m"),
                        F.col("centroid_id"),
                        _sub(F.col("__qv"), j, subdim).alias("qc"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("c")
    ).select("c.m", "c.centroid_id", "c.qc")

    fd = "(s - ((s % n) + n) % n) div n"  # portable floor division
    for _ in range(iterations):
        a = subs.join(F.broadcast(cents), "m").withColumn(
            "__d", _isqdist(F.col("sv"), F.col("qc"))
        )
        wa = Window.partitionBy("__id", "m").orderBy("__d", "centroid_id")
        assigned = (
            a.withColumn("__rn", F.row_number().over(wa))
            .filter(F.col("__rn") == 1)
            .select("__id", "m", "centroid_id", "sv")
        )
        comp = (
            assigned.select("m", "centroid_id", F.posexplode("sv"))
            .groupBy("m", "centroid_id", "pos")
            .agg(
                F.sum("col").cast("long").alias("s"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
            .select("m", "centroid_id", "pos", F.expr(fd).cast("long").alias("c"))
        )
        cents = (
            comp.groupBy("m", "centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "c"))),
                    lambda st: st["c"],
                ).alias("qc")
            )
            .localCheckpoint()
        )
    return cents


def pq_codes(
    df: DataFrame,
    cents: DataFrame,
    dim: int = 64,
    m: int = PQ_M,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Encode every ``(vec_id, embedding)`` vector as its M
    nearest-subcentroid codes, packed
    little-endian into one BIGINT (code_j in bits [j*ceil(log2 K)..)).
    Broadcast codebook, map-side argmin per subspace, one id-keyed
    aggregation to pack — the corpus compresses to 8 bytes/vector of
    shuffle payload from here on.  ``carry`` columns (functionally
    dependent on the id, e.g. the IVF cell) ride through the pack so
    consumers need no join back to the source (min-folded: one value
    per id, deterministically)."""
    subdim = dim // m
    # Namespace the carried columns: a carry named like a codebook
    # column (centroid_id, the common case) must not collide in the
    # argmin join below.
    cmap = {c: f"__carry_{i}" for i, c in enumerate(carry)}
    e = df.select(
        F.col("vec_id").alias("__id"),
        _qvec(F.col("embedding")).alias("__qv"),
        *[F.col(c).alias(a) for c, a in cmap.items()],
    )
    subs = e.select(
        "__id",
        *cmap.values(),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("m"), _sub(F.col("__qv"), j, subdim).alias("sv"))
                    for j in range(m)
                ]
            )
        ).alias("s"),
    ).select("__id", *cmap.values(), "s.m", "s.sv")
    a = subs.join(F.broadcast(cents), "m").withColumn(
        "__d", _isqdist(F.col("sv"), F.col("qc"))
    )
    wa = Window.partitionBy("__id", "m").orderBy("__d", "centroid_id")
    assigned = (
        a.withColumn("__rn", F.row_number().over(wa))
        .filter(F.col("__rn") == 1)
        .select("__id", "m", "centroid_id", *cmap.values())
    )
    bits = max((PQ_K - 1).bit_length(), 1)
    # SQL shiftleft (unlike the Python helper) takes a column shift
    # amount, which the per-subspace pack needs.
    return assigned.groupBy("__id").agg(
        F.sum(
            F.expr(f"cast(centroid_id as bigint) * shiftleft(1L, cast(m * {bits} as int))")
        )
        .cast("long")
        .alias("pq_code"),
        *[F.min(a).alias(c) for c, a in cmap.items()],
    ).select(F.col("__id").alias("vec_id"), "pq_code", *carry)


def sql_pq_chain(
    source: str = "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings",
    prefix: str = "",
) -> str:
    """DuckDB CTE chain replaying :func:`pq_train` at its defaults (64
    dims, PQ_M subspaces, PQ_K centroids, PQ_ITERS rounds) exactly (same
    e6 quantization, same shared md5 init sample, same integer-L2
    argmin, same portable floor-div means).  The trained codebook ends in
    ``{prefix}cent`` as (m, centroid_id, qc); the quantized vectors in
    ``{prefix}e`` as (vec_id, qv).  ``prefix`` namespaces every CTE so
    the chain can compose with others that use the same conventional
    names (the IVFADC oracle stacks it on the sql_ivf_train chain)."""
    subdim = 64 // PQ_M
    sub_ms = ", ".join(str(j) for j in range(PQ_M))
    isq = (
        f"list_sum(list_transform(range(1, {subdim + 1}), "
        "i -> (sv[i] - qc[i]) * (sv[i] - qc[i])))"
    )
    fd = "(s - ((s % n) + n) % n) // n"
    p = prefix
    parts = [
        f"{p}e AS (SELECT vec_id, list_transform(v, x -> floor(x * {PQ_Q})::BIGINT) AS qv"
        f" FROM ({source}))",
        f"{p}subs AS (SELECT vec_id, t.m, list_slice(qv, t.m * {subdim} + 1,"
        f" (t.m + 1) * {subdim}) AS sv FROM {p}e, unnest([{sub_ms}]) t(m))",
        f"{p}init AS (SELECT centroid_id, qv FROM ("
        "SELECT row_number() OVER (ORDER BY "
        "('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT, vec_id) - 1"
        f" AS centroid_id, qv FROM {p}e) WHERE centroid_id < {PQ_K})",
        f"{p}c0 AS (SELECT t.m, centroid_id, list_slice(qv, t.m * {subdim} + 1,"
        f" (t.m + 1) * {subdim}) AS qc FROM {p}init, unnest([{sub_ms}]) t(m))",
    ]
    for r in range(1, PQ_ITERS + 1):
        parts.append(
            f"{p}a{r} AS (SELECT vec_id, m, centroid_id, sv FROM ("
            f"SELECT {p}subs.vec_id, {p}subs.m, c.centroid_id, {p}subs.sv, "
            f"row_number() OVER (PARTITION BY {p}subs.vec_id, {p}subs.m "
            f"ORDER BY {isq.replace('sv[', f'{p}subs.sv[').replace('qc', 'c.qc')}, c.centroid_id) AS rn "
            f"FROM {p}subs JOIN {p}c{r - 1} c USING (m)) WHERE rn = 1)"
        )
        parts.append(
            f"{p}comp{r} AS (SELECT m, centroid_id, i AS pos, {fd} AS c"
            f" FROM (SELECT m, centroid_id, i, sum(sv[i])::BIGINT AS s,"
            f" count(*)::BIGINT AS n FROM {p}a{r}, generate_series(1, {subdim}) t(i)"
            " GROUP BY m, centroid_id, i))"
        )
        parts.append(
            f"{p}c{r} AS (SELECT m, centroid_id, list(c ORDER BY pos) AS qc"
            f" FROM {p}comp{r} GROUP BY m, centroid_id)"
        )
    parts.append(f"{p}cent AS (SELECT m, centroid_id, qc FROM {p}c{PQ_ITERS})")
    return ",\n    ".join(parts)
