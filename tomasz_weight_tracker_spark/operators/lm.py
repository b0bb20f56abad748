"""Statistical language-model filtering and classifier training for
large-scale training-data pipelines.

Three canonical curation primitives the public corpus-cleaning and
data-selection stacks (CCNet, fastText quality filters, DSIR —
Wenzek et al. 2020, Joulin et al. 2017, Xie et al. 2023, public
papers) run over raw crawls, re-expressed Spark-first (the third,
:func:`dsir_weights`, is documented at its definition below):

1. :func:`lm_score` — an add-1-smoothed **bigram language model**
   trained on an in-domain reference split and applied to the rest of
   the corpus (the CCNet "perplexity bucket" step).  ``ln()`` is not
   bit-portable across engines (last-ulp differences; see BM25's
   rational idf in plans/similarity_ann.py), so the score is the *mean
   smoothed bigram likelihood*, e9-quantized per token with pure
   BIGINT arithmetic: ``p_e9 = (1e9 * (c(w1 w2)+1)) div (c(w1)+V)``.
   Monotone in the model's probability estimates, so the keep/drop
   decision it drives is the same filter CCNet's log-space score
   drives — and it is bit-exact everywhere.  Int64 bound: the
   numerator needs ``c(w1 w2) < 9.2e9``; a 100 TB corpus (~2e13
   tokens, hottest bigram ~1e11) would drop SCALE to 1e6
   (``c < 9.2e12``) — one constant, same semantics.

2. :func:`perceptron_train` — distributed **quality-classifier
   training** (the fastText-style classifier distilled from heuristic
   labels): a batch perceptron over hashed token-bucket features.
   All-integer updates with a fixed round count make the learned
   weights deterministic and exactly replayable — the oracle unrolls
   the identical rounds as a DuckDB CTE chain (the bpe/ivf_train
   fixed-iteration pattern).

Scale posture:

- lm_score: the reference split collapses to VOCABULARY-bounded count
  tables (one aggregation each); scoring is explode → two lookups →
  per-doc aggregation.  The unigram table is broadcast (Zipf-pruned
  at real scale: df-1 hapax rows add nothing to smoothing accuracy);
  the bigram lookup is a keyed shuffle whose build side is unique per
  key, so AQE's skew-join split handles the Zipf head ("of the")
  exactly like plans/relational.py:skew_join_events documents.
- perceptron_train: the corpus is touched ONCE to build a dense
  (B+1)-wide integer feature row per document (md5 bucket hashing,
  zero shuffle, localCheckpoint); every round is one scan + one
  tree-aggregate with the weight vector inlined as literals — no
  parameter exchange, no join, the classic "broadcast the model,
  aggregate the gradient" loop with an O(B) driver state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from ..functions import md5_long, tokens
from .text_analysis import STOPWORDS, sql_tokens

# --- bigram LM -------------------------------------------------------------

SCALE_E9 = 1_000_000_000
# The default reference-split modulus (doc_id % LM_TRAIN_MOD == 0
# trains, the rest is scored).  Named once so batch scorers, the
# streaming filter's held-out predicate, and the SQL oracles can
# never disagree on which docs are the model's own training data.
LM_TRAIN_MOD = 5
# Keep-threshold on the e9 mean bigram likelihood: the sf0.01 median
# is ~32.8e6, so 32e6 splits the held-out corpus into real keep/drop
# classes at every gate scale (the knob a production filter would
# sweep per-domain, CCNet §4.3's bucket boundary).
LM_KEEP_E9 = 32_000_000


def _bigrams(tcol):
    """Adjacent-token bigram strings ("w1 w2"); <2 tokens -> empty."""
    n = F.size(tcol)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(tcol, 1, n - 1),
            F.slice(tcol, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _toked(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", tokens(F.lower(F.coalesce(F.col("text"), F.lit("")))).alias("t")
    )


def lm_model(
    docs: DataFrame, train_mod: int = LM_TRAIN_MOD
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the bigram LM on the ``doc_id % train_mod == 0`` reference
    split: returns (unigram counts, bigram counts, vocab-size scalar) —
    all VOCABULARY-bounded frames, the model a stream scorer broadcasts
    (see plans/streaming_ingest.py:streaming_lm_filter)."""
    train = _toked(docs).filter(F.col("doc_id") % train_mod == 0)
    uni = (
        train.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cu"))
    )
    big = (
        train.select(F.explode(_bigrams(F.col("t"))).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).cast("long").alias("cb"))
    )
    vocab = uni.agg(F.count(F.lit(1)).cast("long").alias("v"))
    return uni, big, vocab


def lm_apply(
    held_docs: DataFrame,
    uni: DataFrame,
    big: DataFrame,
    vocab: DataFrame,
    broadcast_bigrams: bool = False,
) -> DataFrame:
    """Score (doc_id, text) rows with an already-trained model — the
    per-batch body of the streaming filter and the second half of
    :func:`lm_score`.

    ``broadcast_bigrams=True`` ships the bigram-count table as a
    broadcast relation instead of the keyed join, removing the exchange
    that carries the exploded held-out corpus — correct whenever the
    model fits (the caller gates on input size,
    plans/catalog.py:lm_broadcast_model); values are identical either
    way (same left join, same rows).
    """
    pos = _toked(held_docs).select(
        "doc_id", F.explode(_bigrams(F.col("t"))).alias("bg")
    ).withColumn("w1", F.split("bg", " ")[0])

    scored = (
        pos.join(F.broadcast(big) if broadcast_bigrams else big, "bg", "left")
        .join(F.broadcast(uni.withColumnRenamed("w", "w1")), "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            # greatest(..., 1) guards the degenerate empty-train-split
            # case (v = 0, no unigrams): Spark's div would yield NULL
            # rows where DuckDB's // raises Division-by-Zero — a silent
            # engine/oracle divergence.  With any non-empty vocabulary
            # the guard is inert (cu + v >= 1 already).
            "p",
            F.expr(
                f"({SCALE_E9} * (coalesce(cb, 0) + 1))"
                " div greatest(coalesce(cu, 0) + v, 1)"
            ),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("p").cast("long").alias("s"),
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        F.expr("s div n_bigrams").cast("long").alias("lm_score_e9"),
        (F.expr("s div n_bigrams") >= LM_KEEP_E9).alias("kept"),
    )


def lm_score(
    docs: DataFrame,
    train_mod: int = LM_TRAIN_MOD,
    broadcast_bigrams: bool = False,
) -> DataFrame:
    """Score held-out documents with a bigram LM trained on the
    ``doc_id % train_mod == 0`` reference split.

    Returns (doc_id, n_bigrams, lm_score_e9, kept) for every held-out
    document with at least one bigram (docs under 2 tokens are not
    scoreable — excluded on both engines by construction).
    """
    uni, big, vocab = lm_model(docs, train_mod)
    held = docs.filter(F.col("doc_id") % train_mod != 0)
    return lm_apply(held, uni, big, vocab, broadcast_bigrams=broadcast_bigrams)


def sql_lm_chain(
    train_mod: int = LM_TRAIN_MOD, source: str = "documents", bare: bool = False
) -> str:
    """The WITH-chain of :func:`sql_lm_score` up to the per-doc ``agg``
    relation — shared with the calibrated variant's oracle
    (plans/lm_tokenizer.py:lm_score_calibrated) and, via ``source``/``bare``,
    with the end-to-end curation composition (plans/text_curation.py), which
    splices it mid-WITH over the dedup-survivor relation.  Built from
    one generator that :func:`sql_lm_score` appends its final SELECT
    to, so the variants can never drift (the earlier version
    rfind-sliced the rendered query on a SELECT literal — string
    surgery a rewording would silently corrupt)."""
    t = sql_tokens("lower(coalesce(text, ''))")
    lead = "" if bare else "WITH "
    return f"""
    {lead}tok AS (SELECT doc_id, {t} AS t FROM {source}),
    tr AS (SELECT t FROM tok WHERE doc_id % {train_mod} = 0),
    uni AS (SELECT w, count(*)::BIGINT AS cu
            FROM (SELECT unnest(t) AS w FROM tr) GROUP BY w),
    vv AS (SELECT count(*)::BIGINT AS v FROM uni),
    bg AS (SELECT g, count(*)::BIGINT AS cb FROM (
             SELECT unnest(list_transform(range(1, len(t)),
                                          i -> t[i] || ' ' || t[i + 1])) AS g
             FROM tr) GROUP BY g),
    pos AS (SELECT doc_id,
                   unnest(list_transform(range(1, len(t)), i -> t[i])) AS w1,
                   unnest(list_transform(range(1, len(t)),
                                         i -> t[i] || ' ' || t[i + 1])) AS g
            FROM tok WHERE doc_id % {train_mod} <> 0),
    sc AS (SELECT doc_id,
                  ({SCALE_E9} * (coalesce(cb, 0) + 1))
                  // greatest(coalesce(cu, 0) + v, 1) AS p
           FROM pos LEFT JOIN bg USING (g)
                    LEFT JOIN uni ON pos.w1 = uni.w
                    CROSS JOIN vv),
    agg AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams, sum(p)::BIGINT AS s
            FROM sc GROUP BY doc_id)"""


def sql_lm_score(train_mod: int = LM_TRAIN_MOD) -> str:
    """DuckDB oracle twin of :func:`lm_score` (same counts, same
    integer quantization — including the empty-vocabulary greatest()
    guard, see lm_apply — same threshold)."""
    return (
        sql_lm_chain(train_mod)
        + f"""
    SELECT doc_id, n_bigrams, (s // n_bigrams)::BIGINT AS lm_score_e9,
           (s // n_bigrams) >= {LM_KEEP_E9} AS kept
    FROM agg
    """
    )


# --- batch perceptron ------------------------------------------------------

N_BUCKETS = 32  # hashed token features; feature N_BUCKETS is the bias
# Label: stopword ratio >= 6% (the sf0.01 median — a balanced, purely
# integer decision: 100*hits >= 6*n, empty docs land positive).
LABEL_PCT = 6

PERCEPTRON_SCHEMA = StructType(
    [
        StructField("round", IntegerType()),
        StructField("feature", IntegerType()),
        StructField("weight", LongType()),
        StructField("errors", LongType()),
    ]
)


def _label(toks_col):
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    hits = F.size(F.filter(toks_col, lambda t: F.array_contains(stop, t)))
    n = F.size(toks_col)
    return F.when(100 * hits >= LABEL_PCT * n, F.lit(1)).otherwise(F.lit(-1))


def perceptron_features(docs: DataFrame) -> DataFrame:
    """Per-document label + dense hashed-bucket feature row:
    (doc_id, y, x0..x{B-1}, x{B}=bias).  One corpus scan, no shuffle."""
    toks_col = tokens(F.lower(F.coalesce(F.col("text"), F.lit(""))))
    base = docs.select(
        "doc_id",
        _label(toks_col).alias("y"),
        F.transform(toks_col, lambda t: (md5_long(t) % N_BUCKETS).cast("int")).alias(
            "bks"
        ),
    )
    # Closure factory, not `lambda x, b=...`: F.filter inspects the
    # lambda's arity, and a defaulted second parameter makes it 2-ary,
    # so Spark would bind the ELEMENT INDEX (not the default) to `b`.
    def _bucket_count(b: int):
        return F.size(F.filter("bks", lambda x: x == F.lit(b))).cast("long")

    return base.select(
        "doc_id",
        "y",
        *[_bucket_count(b).alias(f"x{b}") for b in range(N_BUCKETS)],
        F.lit(1).cast("long").alias(f"x{N_BUCKETS}"),
    )


def _floor_div(a: int, d: int) -> int:
    """Floor division via truncating ``%`` — the one integer-division
    form that is engine-portable: ``a - ((a % d) + d) % d`` is EXACTLY
    divisible by ``d``, so Spark's truncating ``div``, DuckDB's ``//``
    and Python's ``//`` all return the identical quotient."""
    return (a - ((a % d) + d) % d) // d


def perceptron_train(
    spark: SparkSession, docs: DataFrame, rounds: int
) -> DataFrame:
    """Fixed-round batch perceptron with geometric step decay: round
    ``r`` flags every document with ``y * (w . x) <= 0`` and adds
    ``floor(sum(y * x) / 2^(r-1))`` over the flagged set to the
    weights.  The rate-1 batch update oscillates between the two
    class-total predictors (measured: 241/259 errors forever); halving
    the step each round makes the weight trajectory Cauchy and the
    error count converge (500 -> 114 on the sf0.01 corpus in 8
    rounds, vs a 241-error majority baseline).  Returns the full
    trajectory (round, feature, weight-after-update,
    errors-that-round) — ``rounds * (B+1)`` rows, deterministic
    (all-integer arithmetic, commutative sums, portable floor
    division)."""
    out_rows, _, _ = _train_loop(docs, rounds)
    return spark.createDataFrame(out_rows, PERCEPTRON_SCHEMA)


def _train_loop(docs: DataFrame, rounds: int):
    """The training loop body shared by :func:`perceptron_train` and
    :func:`perceptron_apply`: returns (trajectory rows, final weights,
    checkpointed feature table).

    The per-round plan is ARRAY-PACKED: one (y, xarr) row per document,
    the dot a single zip_with/aggregate fold against an array-literal
    model, the update one posexplode + groupBy(pos) integer sum (33
    keys, map-side combined — the shuffle carries O(tasks * B) partial
    rows).  Every round is a FRESH plan (the weights are literals), so
    plan width is what the round wall pays at toy scale: the round-7
    O(B)-expression form spent ~0.65 s/round in analysis+codegen vs
    ~0.1 s for this one (round-12 floor work, identical integer
    trajectory by construction — integer sums in any order/grouping).
    At scale the packed form is also the one that survives large B:
    plan size stays O(1) while the wide-agg twin's grows with B."""
    nf = N_BUCKETS + 1
    ftab = perceptron_features(docs).localCheckpoint(eager=True)
    packed = ftab.select(
        F.col("y").cast("long").alias("y"),
        F.array(*[F.col(f"x{b}").cast("long") for b in range(nf)]).alias("xarr"),
    ).localCheckpoint(eager=True)

    w = [0] * nf
    out_rows: list[tuple[int, int, int, int]] = []
    for r in range(1, rounds + 1):
        wlit = F.array(*[F.lit(v).cast("long") for v in w])
        dot = F.aggregate(
            F.zip_with(F.col("xarr"), wlit, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )
        mis = packed.filter(F.col("y") * dot <= 0)
        rows = (
            mis.select("y", F.posexplode("xarr").alias("pos", "xv"))
            .groupBy("pos")
            .agg(
                F.sum(F.col("y") * F.col("xv")).cast("long").alias("u"),
                F.count(F.lit(1)).cast("long").alias("c"),
            )
        ).collect()
        # every document contributes one row per pos, so any pos's row
        # count IS the misclassified-document count (empty -> 0 errors)
        errors = int(rows[0]["c"]) if rows else 0
        step = 2 ** (r - 1)
        upd = {int(x["pos"]): int(x["u"]) for x in rows}
        for b in range(nf):
            w[b] += _floor_div(upd.get(b, 0), step)
        out_rows.extend((r, b, w[b], errors) for b in range(nf))

    return out_rows, w, ftab


def perceptron_apply(docs: DataFrame, rounds: int) -> DataFrame:
    """Train (deterministically — same loop as :func:`perceptron_train`)
    and APPLY the final weights: per-document dot product, sign
    prediction, correctness against the heuristic label.  One scan of
    the checkpointed feature table with the O(B) model inlined as
    literals — classification at corpus scale is a zero-shuffle map."""
    _, w, ftab = _train_loop(docs, rounds)
    dot = None
    for b in range(N_BUCKETS + 1):
        term = F.col(f"x{b}") * F.lit(w[b])
        dot = term if dot is None else dot + term
    pred = F.when(dot > 0, F.lit(1)).otherwise(F.lit(-1))
    return ftab.select(
        "doc_id",
        "y",
        dot.cast("long").alias("dot"),
        pred.cast("int").alias("pred"),
        (pred == F.col("y")).alias("correct"),
    )


SPARSE_BUCKETS = 4096  # fastText-scale hashed feature space


def perceptron_features_sparse(docs: DataFrame, n_buckets: int) -> DataFrame:
    """Long-form sparse features: (doc_id, y, f, x) rows — one row per
    (document, occupied bucket) plus a bias row (f = n_buckets, x = 1)
    per document.  The round-7 dense design materialized one COLUMN
    per bucket, which caps B at ~1e3 (a 4096-column plan); long form
    keeps the plan width O(1) at any B, the fastText regime (B >= 1e4).
    One corpus scan, one (doc_id, f) map-side-combined aggregation."""
    toks_col = tokens(F.lower(F.coalesce(F.col("text"), F.lit(""))))
    exploded = docs.select(
        "doc_id",
        _label(toks_col).alias("y"),
        F.explode(
            F.concat(
                F.transform(toks_col, lambda t: md5_long(t) % n_buckets),
                F.array(F.lit(n_buckets).cast("long")),  # bias occurrence
            )
        ).alias("f"),
    )
    return exploded.groupBy("doc_id", "y", "f").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )


def perceptron_train_sparse(
    spark: SparkSession, docs: DataFrame, rounds: int, n_buckets: int = SPARSE_BUCKETS
) -> DataFrame:
    """The batch perceptron of :func:`perceptron_train` over LONG-FORM
    sparse features — identical integer trajectory semantics (same
    label, same md5 bucketing, same geometric step decay, same
    portable floor division), feature-space width B appearing nowhere
    in the plan:

    - the feature table is hash-partitioned by doc_id once
      (repartition + localCheckpoint), so each round's per-document
      dot product (groupBy doc_id) and misclassified-set join (on
      doc_id) reuse that exchange;
    - the model reaches the data as a BROADCAST of the non-zero
      (feature, weight) rows — O(min(B, corpus vocabulary)) — never
      as inlined literals (the dense design's 257-term expressions);
    - the per-feature update is ONE exchange of the misclassified
      subset keyed by feature (map-side combined to <= B+1 partial
      rows per task), collected O(B) to the driver;
    - the error count rides the update aggregation for free: every
      document owns exactly one bias row (f = B, x = 1), so the bias
      feature's row count over the misclassified join IS the error
      count — no second job.

    Returns the same (round, feature, weight, errors) trajectory
    relation as the dense trainer, rounds * (B+1) rows, verified by
    the same unrolled-CTE oracle with ``n_buckets`` swapped in.
    """
    nf = n_buckets + 1
    fx = (
        perceptron_features_sparse(docs, n_buckets)
        .repartition(F.col("doc_id"))
        .localCheckpoint(eager=True)
    )

    w: dict[int, int] = {}
    out_rows: list[tuple[int, int, int, int]] = []
    for r in range(1, rounds + 1):
        nz = [(f, wt) for f, wt in sorted(w.items()) if wt != 0]
        if nz:
            w_df = spark.createDataFrame(nz, "f long, w long")
            dots = (
                fx.join(F.broadcast(w_df), "f", "left")
                .groupBy("doc_id")
                .agg(
                    F.min("y").alias("y"),
                    F.sum(F.col("x") * F.coalesce("w", F.lit(0)))
                    .cast("long")
                    .alias("dot"),
                )
            )
        else:  # round 1: all-zero model, dot is identically 0
            dots = fx.groupBy("doc_id").agg(
                F.min("y").alias("y"), F.lit(0).cast("long").alias("dot")
            )
        mis = dots.filter(F.col("y").cast("long") * F.col("dot") <= 0).select(
            "doc_id", F.col("y").alias("my")
        )
        upd = (
            fx.join(mis, "doc_id")
            .groupBy("f")
            .agg(
                F.sum(F.col("my").cast("long") * F.col("x")).alias("du"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
        ).collect()
        errors = 0
        step = 2 ** (r - 1)
        deltas: dict[int, int] = {}
        for row in upd:
            if int(row["f"]) == n_buckets:
                errors = int(row["n"])
            deltas[int(row["f"])] = _floor_div(int(row["du"]), step)
        for f, d in deltas.items():
            if d:
                w[f] = w.get(f, 0) + d
        out_rows.extend((r, b, w.get(b, 0), errors) for b in range(nf))

    return spark.createDataFrame(out_rows, PERCEPTRON_SCHEMA)


def _sql_perceptron_parts(rounds: int, n_buckets: int = N_BUCKETS) -> list[str]:
    """The shared CTE chain of :func:`sql_perceptron_chain`,
    :func:`sql_perceptron_apply` and the sparse B=4096 twin
    (corpus-derived fx/yy once; per round dot -> misclassified set ->
    per-feature update -> new weights).  The oracle was long-form
    (doc_id, feature, count) from day one, so widening the feature
    space is just this parameter."""
    t = sql_tokens("lower(coalesce(text, ''))")
    stop_list = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"
    nf = n_buckets + 1
    # MATERIALIZED is load-bearing: every round references the previous
    # round's weights and the shared fx/yy relations more than once, and
    # DuckDB CTE inlining would otherwise re-execute the whole prefix
    # per reference (2^rounds blowup — measured: the 8-round chain never
    # finishes inlined, milliseconds materialized).
    parts = [
        f"WITH tok AS MATERIALIZED (SELECT doc_id, {t} AS t FROM documents),",
        f"""lab AS MATERIALIZED (SELECT doc_id,
              CASE WHEN 100 * len(list_filter(t, x -> list_contains({stop_list}, x)))
                        >= {LABEL_PCT} * len(t)
                   THEN 1 ELSE -1 END AS y, t FROM tok),""",
        f"""fx AS MATERIALIZED (
          SELECT doc_id,
                 (('0x' || substr(md5(tkn), 1, 15))::BIGINT % {n_buckets})::BIGINT AS f,
                 count(*)::BIGINT AS x
          FROM (SELECT doc_id, unnest(t) AS tkn FROM lab) GROUP BY 1, 2
          UNION ALL SELECT doc_id, {n_buckets}::BIGINT, 1::BIGINT FROM lab),""",
        "yy AS MATERIALIZED (SELECT doc_id, y FROM lab),",
        f"w0 AS (SELECT unnest(range(0, {nf}))::BIGINT AS f, 0::BIGINT AS w),",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        step = 2 ** (r - 1)
        # Portable floor division of the decayed update (see _floor_div).
        fd = f"((du - ((du % {step}) + {step}) % {step}) // {step})"
        parts.append(
            f"""d{r} AS MATERIALIZED (
                   SELECT fx.doc_id, sum(fx.x * w{p}.w)::BIGINT AS dot
                   FROM fx JOIN w{p} USING (f) GROUP BY fx.doc_id),
            m{r} AS MATERIALIZED (
                     SELECT yy.doc_id, yy.y FROM yy JOIN d{r} USING (doc_id)
                     WHERE yy.y * d{r}.dot <= 0),
            u{r} AS MATERIALIZED (
                     SELECT fx.f, sum(m{r}.y * fx.x)::BIGINT AS du
                     FROM m{r} JOIN fx USING (doc_id) GROUP BY fx.f),
            w{r} AS MATERIALIZED (
                     SELECT w{p}.f,
                            (w{p}.w + coalesce({fd}, 0))::BIGINT AS w
                     FROM w{p} LEFT JOIN u{r} USING (f)),"""
        )
    return parts


def sql_perceptron_chain(rounds: int, n_buckets: int = N_BUCKETS) -> str:
    """DuckDB oracle: replay the identical perceptron rounds and emit
    the full (round, feature, weight, errors) trajectory.  The same
    chain verifies the dense trainer (B=32) and the long-form sparse
    trainer (B=4096) — the oracle never had per-bucket columns."""
    parts = _sql_perceptron_parts(rounds, n_buckets)
    selects = [
        f"""SELECT {r}::INT AS round, f::INT AS feature, w AS weight,
                   (SELECT count(*)::BIGINT FROM m{r}) AS errors FROM w{r}"""
        for r in range(1, rounds + 1)
    ]
    body = "\nUNION ALL\n".join(selects)
    return "\n".join(parts)[:-1] + "\n" + body


def sql_perceptron_apply(rounds: int) -> str:
    """DuckDB oracle twin of applying the round-``rounds`` weights:
    per-document dot product, sign prediction, correctness flag."""
    parts = _sql_perceptron_parts(rounds)
    body = f"""dd AS (SELECT fx.doc_id, sum(fx.x * w{rounds}.w)::BIGINT AS dot
          FROM fx JOIN w{rounds} USING (f) GROUP BY fx.doc_id)
    SELECT dd.doc_id, yy.y,
           dd.dot,
           CASE WHEN dd.dot > 0 THEN 1 ELSE -1 END AS pred,
           (CASE WHEN dd.dot > 0 THEN 1 ELSE -1 END) = yy.y AS correct
    FROM dd JOIN yy USING (doc_id)"""
    return "\n".join(parts) + "\n" + body


# --- DSIR-style importance weighting ---------------------------------------

# Hashed-feature importance weighting for data selection (Xie et al.
# 2023, "Data Selection for Language Models via Importance
# Resampling", public paper): estimate hashed-unigram bucket
# distributions on a target (in-domain) split and on the raw corpus,
# weight every raw document by its tokens' target/raw likelihood
# ratios, and select the top-K.  DSIR scores in log space
# (sum of log ratios); ln() is not bit-portable, so this implements
# the LINEAR-domain estimator — the mean per-token likelihood ratio,
# e6-quantized per bucket with pure BIGINT arithmetic:
#
#   ratio_e6(b) = floor(1e6 * (ct_b+1) * (Nr+B) / ((cr_b+1) * (Nt+B)))
#   weight_e6(doc) = floor(mean over tokens of ratio_e6(bucket(tok)))
#
# Same add-1 smoothing, same ranking intent, bit-exact in both
# engines.  Int64 bound: 1e6 * (ct+1) * (Nr+B) needs ct * Nr < 9.2e12
# — holds through the 10x soak (2.2e6 * 2.7e6); a 100 TB corpus
# (Nr ~ 2e13) would drop the quantization to e3 and prescale both
# counts by a common 2^k (ratios unchanged), or widen the numerator
# to decimal(38)/hugeint — one constant, same semantics.
DSIR_BUCKETS = 256
DSIR_TOP_K = 100


def dsir_weights(docs: DataFrame, train_mod: int = LM_TRAIN_MOD) -> DataFrame:
    """Importance-weight the raw split (``doc_id % train_mod != 0``)
    against the target split, rank, and mark the top-K selection.

    Scale posture: two bucket aggregations (map-side combined to at
    most B partial rows per task), then scoring is a BROADCAST join
    of the B-row ratio table onto the token stream — the corpus never
    shuffles on volume; one per-doc aggregation and one window over
    the group-reduced (one row per doc) relation close it out.
    """
    toked = docs.select(
        "doc_id",
        (F.col("doc_id") % train_mod == 0).alias("is_target"),
        tokens(F.lower(F.coalesce(F.col("text"), F.lit("")))).alias("t"),
    )
    tok = toked.select(
        "doc_id",
        "is_target",
        F.explode("t").alias("tok"),
    ).withColumn("b", (md5_long("tok") % DSIR_BUCKETS).cast("long"))

    tgt = tok.filter("is_target").groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("ct")
    )
    raw = tok.filter(~F.col("is_target")).groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("cr")
    )
    totals = tok.agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).cast("long").alias("nt"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1)).cast("long").alias("nr"),
    )
    # In-data int64 guard (cheap: B rows): the numerator needs
    # 1e6*(ct+1)*(nr+B) and the denominator (cr+1)*(nt+B) to fit in
    # int64.  Past the bound Spark (non-ANSI) would WRAP silently to
    # wrong weights while DuckDB errors — a silent-divergence failure
    # mode; the guard makes overflow a loud error on BOTH engines
    # (the production fix is one constant: drop quantization to e3 /
    # prescale both counts, see the module comment).  The guard
    # comparisons divide instead of multiplying so they cannot
    # themselves overflow.
    _nofl = (
        f"(nr + {DSIR_BUCKETS}) <= (9223372036854775807 div 1000000)"
        " div (coalesce(ct, 0) + 1)"
        f" AND (nt + {DSIR_BUCKETS}) <= 9223372036854775807 div (cr + 1)"
    )
    ratio = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "b",
            F.expr(
                f"CASE WHEN {_nofl} THEN"
                f" (1000000 * (coalesce(ct, 0) + 1) * (nr + {DSIR_BUCKETS}))"
                f" div ((cr + 1) * (nt + {DSIR_BUCKETS}))"
                " ELSE cast(raise_error("
                "'dsir ratio_e6 int64 overflow: rescale quantization') as bigint)"
                " END"
            ).alias("ratio_e6"),
        )
    )
    scored = (
        tok.filter(~F.col("is_target"))
        .join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("ratio_e6").cast("long").alias("s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.expr("s div n_tokens").cast("long").alias("weight_e6"),
        )
    )
    # Top-K via TakeOrderedAndProject (distributed per-partition top-K
    # + driver merge of K-row heads), NOT a global row_number window —
    # an unpartitioned sort over one-row-per-doc is still corpus-sized
    # at real scale.  Rank is assigned on the K-row result only, then
    # broadcast back; unselected docs carry a NULL rank.
    from pyspark.sql import Window

    top = (
        scored.orderBy(F.desc("weight_e6"), "doc_id")
        .limit(DSIR_TOP_K)
        .select(
            "doc_id",
            F.row_number()
            # bounded-frame: DSIR_TOP_K-row frame after limit
            .over(Window.orderBy(F.desc("weight_e6"), "doc_id"))
            .cast("long")
            .alias("rnk"),
        )
    )
    return (
        scored.join(F.broadcast(top), "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "weight_e6",
            "rnk",
            F.col("rnk").isNotNull().alias("selected"),
        )
    )


def sql_dsir_weights(train_mod: int = LM_TRAIN_MOD) -> str:
    """DuckDB oracle twin of :func:`dsir_weights`."""
    t = sql_tokens("lower(coalesce(text, ''))")
    return f"""
    WITH toked AS (SELECT doc_id, doc_id % {train_mod} = 0 AS is_target, {t} AS t
                   FROM documents),
    tok AS (SELECT doc_id, is_target,
                   ('0x' || substr(md5(tk), 1, 15))::BIGINT % {DSIR_BUCKETS} AS b
            FROM (SELECT doc_id, is_target, unnest(t) AS tk FROM toked)),
    tgt AS (SELECT b, count(*)::BIGINT AS ct FROM tok WHERE is_target GROUP BY b),
    raw AS (SELECT b, count(*)::BIGINT AS cr FROM tok WHERE NOT is_target GROUP BY b),
    tot AS (SELECT sum(CASE WHEN is_target THEN 1 ELSE 0 END)::BIGINT AS nt,
                   sum(CASE WHEN is_target THEN 0 ELSE 1 END)::BIGINT AS nr
            FROM tok),
    ratio AS (SELECT raw.b,
                     CASE WHEN (nr + {DSIR_BUCKETS})
                               <= (9223372036854775807 // 1000000)
                                  // (coalesce(ct, 0) + 1)
                           AND (nt + {DSIR_BUCKETS})
                               <= 9223372036854775807 // (cr + 1)
                          THEN (1000000 * (coalesce(ct, 0) + 1)
                                * (nr + {DSIR_BUCKETS}))
                               // ((cr + 1) * (nt + {DSIR_BUCKETS}))
                          ELSE error('dsir ratio_e6 int64 overflow: rescale quantization')
                     END AS ratio_e6
              FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot),
    scored AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
                      (sum(ratio_e6)::BIGINT // count(*))::BIGINT AS weight_e6
               FROM tok JOIN ratio USING (b)
               WHERE NOT is_target
               GROUP BY doc_id)
    SELECT doc_id, n_tokens, weight_e6,
           CASE WHEN rn <= {DSIR_TOP_K} THEN rn END AS rnk,
           rn <= {DSIR_TOP_K} AS selected
    FROM (SELECT *, row_number() OVER (ORDER BY weight_e6 DESC, doc_id)::BIGINT AS rn
          FROM scored)
    """
