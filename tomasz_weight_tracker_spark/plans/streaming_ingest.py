"""Streaming-ingestion catalog queries: documents arrive as a file-source
stream and a foreachBatch sink folds each micro-batch into state.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import md5_long, md5_long_sql
from ..operators import dedup as D
from ..operators.lm import LM_TRAIN_MOD, lm_apply, lm_model, sql_lm_score
from ..session import scratch_dir
from ..streaming.pipelines import (
    await_drain,
    drain_residue_batches,
    stream_docs,
    stream_upsert,
)
from .catalog import lm_broadcast_model, load, register
from .dedup_lsh import (
    _SQL_CHUNKS,
    _URL_CTES,
    _doc_line_chunks,
    _inc_assign_oracle,
    _url_gen_spark,
    url_canonicalize,
)
from .llm_ops import LSH_BANDS, LSH_K, LSH_THRESH


@register(
    "streaming_lm_filter",
    sql_lm_score(),
    survey_ids=("ST1", "S11"),
    doc="The LM quality filter in its production shape: the bigram "
    "model is trained OFFLINE on the batch reference split "
    "(operators/lm.py:lm_model — vocabulary-bounded count frames, "
    "localCheckpointed once), then a documents STREAM is scored per "
    "micro-batch inside foreachBatch (lm_apply — where joins against "
    "the static model and the per-doc aggregation are plain batch "
    "ops) and MERGEd by doc_id into a keyed parquet state table "
    "(stream_upsert: checkpointed, idempotent — replaying a batch "
    "after a crash is a no-op since each doc scores identically).  "
    "The drained state must equal the batch ngram_lm_score oracle "
    "exactly: train-offline/score-online introduces NO drift because "
    "the score is integer-rational, not float-path-dependent.",
)
def q_streaming_lm_filter(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    # One named modulus drives BOTH the offline model's train split
    # and the stream's held-out predicate — they must stay the exact
    # complement of each other or the drained state diverges from the
    # batch oracle (scoring train docs / dropping held docs).
    uni, big, vocab = (
        f.localCheckpoint(eager=True)
        for f in lm_model(docs, train_mod=LM_TRAIN_MOD)
    )

    stream = stream_docs(spark, sf_dir).filter(
        F.col("doc_id") % LM_TRAIN_MOD != 0
    ).select("doc_id", "text")

    def score(batch):
        # Same size gate as the batch scorer: a small model broadcasts
        # per micro-batch instead of shuffling the batch on bigram.
        return lm_apply(
            batch, uni, big, vocab,
            broadcast_bigrams=lm_broadcast_model(sf_dir),
        )

    d = scratch_dir("stream_lm")
    q = stream_upsert(
        stream,
        f"{d}/state",
        keys=["doc_id"],
        checkpoint=f"{d}/ckpt",
        prepare=score,
    ).start()
    await_drain(q, "streaming_lm_filter")
    return spark.read.parquet(f"{d}/state").select(
        "doc_id", "n_bigrams", "lm_score_e9", "kept"
    )


# ===========================================================================
# Streaming near-dup ingestion (LSH probe-assign as a live stream)
# ===========================================================================

STREAM_LSH_BATCHES = 3


def make_lsh_assign_batch(sig_state, upd_state):
    """The streaming_lsh_assign foreachBatch sink, as a module-level
    factory so the chaos-replay test (tests/test_streaming_replay.py)
    drives the EXACT production sink twice with the same batch id.
    Replay safety here is by ABSORPTION, not overwrite: a replayed
    batch re-appends updates (every one a true verified smaller-id
    neighbor — the min-fold erases duplicates) and re-appends its
    signatures (the probe reconstructs per-doc with dropDuplicates,
    and duplicate store rows only produce duplicate candidates the
    same min erases)."""

    def apply_batch(batch_df, _batch_id):
        sess = batch_df.sparkSession
        new_sigs = (
            D.minhash_signature(
                batch_df.select("doc_id", "text"), "text", k=LSH_K
            )
            .drop("text")
            .withColumn("is_new", F.lit(True))
            .localCheckpoint(eager=True)  # sign once: probe + append reuse
        )
        # Band-partitioned store probe: partition-prune + broadcast
        # band-hash semi-join, so the refresh reads/shuffles O(batch x
        # touched buckets), never the whole store (round-10 fix of the
        # round-9 store-rescan weak).  None == genuinely-empty store
        # (no parquet files yet); real read errors propagate.
        store = D.lsh_store_probe_read(
            sess, sig_state, new_sigs, k=LSH_K, bands=LSH_BANDS
        )
        if store is None:
            all_sigs = new_sigs
        else:
            all_sigs = store.withColumn("is_new", F.lit(False)).unionByName(
                new_sigs
            )
        updates = D.lsh_probe_assign(
            all_sigs, "is_new", "doc_id",
            k=LSH_K, bands=LSH_BANDS, verify_min=LSH_THRESH,
        )
        # Update log BEFORE the store append (the update plan reads the
        # store lazily; this batch's signatures must not probe
        # themselves as history).  An empty batch still appends a
        # schema-bearing empty file, so the final read never 404s.
        updates.write.mode("append").parquet(upd_state)
        D.lsh_store_append(
            new_sigs.drop("is_new"), sig_state, k=LSH_K, bands=LSH_BANDS
        )

    return apply_batch


def lsh_assign_fold(spark, upd_state):
    """Drain fold for the assignment log (keyed MIN-merge) — shared by
    the catalog query and the replay test."""
    return (
        spark.read.parquet(upd_state)
        .groupBy("doc_id")
        .agg(F.min("dup_of").alias("dup_of"))
    )


@register(
    "streaming_lsh_assign",
    _inc_assign_oracle(),
    survey_ids=("ST1", "S11", "A7"),
    doc="Streaming near-dup INGESTION — incremental_lsh_assign's "
    "crawl-refresh fold bridged to Structured Streaming: documents "
    f"arrive as a file-source stream in {STREAM_LSH_BATCHES} "
    "micro-batches (maxFilesPerTrigger=1 over a file-per-refresh "
    "layout, availableNow); each micro-batch MinHash-signs its docs "
    "inside foreachBatch, PROBES them against the checkpointed "
    "parquet signature store — PARTITIONED by band-key-hash bucket "
    "(operators/dedup.py:lsh_store_append), each micro-batch "
    "partition-pruning the store scan to its touched buckets and "
    "broadcast-semi-joining on the exact band hash before any "
    "shuffle (lsh_store_probe_read), then lsh_probe_assign — "
    "the bounded-output assign probe, O(touched members) per batch "
    "in OUTPUT and COMPUTE alike, "
    "never the pair relation), appends its (doc_id, dup_of) updates "
    "to the assignment log, then appends its signatures to the "
    "store.  The drained state min-folds the log — associative, "
    "commutative, and duplicate-absorbing, so the result is "
    "invariant to micro-batch boundaries AND to checkpoint-replayed "
    "batches (a replay only appends duplicate rows the MIN erases) — "
    "and must hash-equal the ONE-SHOT oracle: GROUP BY doc "
    "MIN(neighbor) over the uncapped pair run on the union corpus "
    "(lsh_probe_assign's batching-invariance theorem, now carried by "
    "the streaming engine's own trigger/checkpoint machinery instead "
    "of a driver loop).",
)
def q_streaming_lsh_assign(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    root = scratch_dir("stream_lsh")
    sig_state = f"{root}/sig_state"
    upd_state = f"{root}/assign_updates"
    # The fold is batch-order-invariant, so source file ordering is free.
    drain_residue_batches(
        spark, docs, root, STREAM_LSH_BATCHES,
        make_lsh_assign_batch(sig_state, upd_state), "streaming_lsh_assign",
    )
    return lsh_assign_fold(spark, upd_state)


# ===========================================================================
# Streaming URL dedup (keep-first ingestion fold)
# ===========================================================================

_STREAM_URL_BATCHES = 3


def make_url_dedup_batch(log):
    """The streaming_url_dedup foreachBatch sink, as a module-level
    factory so the chaos-replay test (tests/test_streaming_replay.py)
    drives the EXACT production sink twice with the same batch id."""

    def apply_batch(batch_df, _batch_id):
        canon = batch_df.select(
            "doc_id", _url_gen_spark(F.col("doc_id")).alias("url")
        ).select("doc_id", url_canonicalize(F.col("url")).alias("curl"))
        partial = canon.groupBy("curl").agg(
            F.min("doc_id").alias("min_doc"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
        # Deterministic per-batch path + overwrite = IDEMPOTENT sink:
        # foreachBatch is only at-least-once, and a batch replayed
        # after a successful append but before the checkpoint commit
        # would double its cnt partials under a flat append log (the
        # min leg absorbs replay; the sum leg does not — round-10
        # ADVICE).  Overwriting batch=<id> makes replay a no-op.
        partial.write.mode("overwrite").parquet(f"{log}/batch={_batch_id}")

    return apply_batch


def url_dedup_fold(spark, log):
    """Drain fold for the url-dedup state log (min/sum per canonical
    key) — shared by the catalog query and the replay test."""
    return (
        spark.read.parquet(log)
        .groupBy(F.col("curl").alias("canonical_url"))
        .agg(
            F.min("min_doc").cast("long").alias("kept_doc_id"),
            F.sum("cnt").cast("long").alias("n_docs"),
        )
    )


@register(
    "streaming_url_dedup",
    _URL_CTES
    + """
    SELECT curl AS canonical_url,
           min(doc_id)::BIGINT AS kept_doc_id,
           count(*)::BIGINT AS n_docs
    FROM canon GROUP BY curl
    """,
    survey_ids=("ST1", "S11", "A6"),
    doc="URL-granularity dedup as STREAMING INGESTION — the crawl "
    "front-door shape: documents arrive as a file-source stream in "
    f"{_STREAM_URL_BATCHES} micro-batches (availableNow, "
    "maxFilesPerTrigger=1); each micro-batch canonicalizes its URLs "
    "(url_canonicalize — the same native projection as "
    "url_canonical_dedup, shared code) and appends per-batch PARTIAL "
    "aggregates (canonical key, min doc, count) to the state log; "
    "writes them to a DETERMINISTIC per-batch path with overwrite "
    "(foreachBatch sinks are at-least-once, so a replayed batch must "
    "be a no-op — append-only logs double the count partials on "
    "replay); the drained state folds the log with min/sum — both "
    "associative and commutative — and must hash-equal the ONE-SHOT "
    "keep-first oracle "
    "on the union corpus.  Per-batch state traffic is O(distinct "
    "keys in batch), never the corpus; the fold is the "
    "decomposable-aggregate discipline (incremental_agg_events) "
    "applied at the crawl's entry point, BEFORE content dedup ever "
    "sees a duplicate URL's bytes.",
)
def q_streaming_url_dedup(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id")
    root = scratch_dir("stream_url")
    log = f"{root}/state_log"
    drain_residue_batches(
        spark, docs, root, _STREAM_URL_BATCHES,
        make_url_dedup_batch(log), "streaming_url_dedup",
    )
    return url_dedup_fold(spark, log)


# ===========================================================================
# Streaming line dedup (the crawl front door for CONTENT lines)
# ===========================================================================

_STREAM_LINE_BATCHES = 3

_STREAM_LINE_ORACLE = f"""
    WITH {_SQL_CHUNKS},
    hashed AS (SELECT *, {md5_long_sql('line')} AS h FROM chunks),
    kept AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY h ORDER BY doc_id, idx) AS rn
            FROM hashed
        ) WHERE rn = 1
    ),
    occ AS (SELECT h, count(*)::BIGINT AS cnt FROM hashed GROUP BY h)
    SELECT kept.doc_id,
           count(*)::BIGINT AS n_kept,
           sum(occ.cnt)::BIGINT AS n_occurrences
    FROM kept JOIN occ ON kept.h = occ.h
    GROUP BY kept.doc_id
"""


def make_line_dedup_batch(log):
    """The streaming_line_dedup foreachBatch sink, as a module-level
    factory so the chaos-replay test (tests/test_streaming_replay.py)
    drives the EXACT production sink twice with the same batch id."""

    def apply_batch(batch_df, _batch_id):
        chunks = _doc_line_chunks(batch_df)
        partial = (
            chunks.withColumn("h", md5_long("line"))
            .groupBy("h")
            .agg(
                F.min(F.struct("doc_id", "idx")).alias("first_occ"),
                F.count(F.lit(1)).cast("long").alias("cnt"),
            )
            .select(
                "h",
                F.col("first_occ.doc_id").alias("min_doc"),
                F.col("first_occ.idx").alias("min_idx"),
                "cnt",
            )
        )
        # Deterministic per-batch path + overwrite = IDEMPOTENT sink
        # (foreachBatch is at-least-once; a replayed batch would
        # double cnt under a flat append log — round-10 ADVICE).
        partial.write.mode("overwrite").parquet(f"{log}/batch={_batch_id}")

    return apply_batch


def line_dedup_fold(spark, log):
    """Drain fold for the line-dedup state log — shared by the catalog
    query and the replay test."""
    folded = (
        spark.read.parquet(log)
        .groupBy("h")
        .agg(
            F.min(F.struct("min_doc", "min_idx")).alias("first_occ"),
            F.sum("cnt").cast("long").alias("cnt"),
        )
    )
    return folded.groupBy(F.col("first_occ.min_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("cnt").cast("long").alias("n_occurrences"),
    )


@register(
    "streaming_line_dedup",
    _STREAM_LINE_ORACLE,
    survey_ids=("ST1", "A7"),
    doc="Global line dedup as STREAMING INGESTION — the streaming twin "
    "of line_dedup_scrub, completing the symmetry that every dedup "
    "stage has a crawl-front-door shape (exact: streaming_dedup_events; "
    "URL: streaming_url_dedup; LSH: streaming_lsh_assign; lines: "
    "this).  Documents arrive as a file-source stream in 3 "
    "micro-batches (availableNow, maxFilesPerTrigger=1); each batch "
    "chunks its docs through the SHARED _doc_line_chunks (semantics "
    "cannot drift from the batch scrub), and appends per-batch PARTIAL "
    "aggregates per line hash — min(struct(doc_id, idx)) and count — "
    "to a DETERMINISTIC per-batch path with overwrite (foreachBatch "
    "sinks are at-least-once: an append-only log would double the "
    "count partials if a batch replayed after a successful write but "
    "before its checkpoint commit — overwrite makes replay a no-op).  "
    "The drained fold takes min/sum per hash: min over a partition of "
    "the occurrence set IS the global first occurrence (associative, "
    "commutative), so the "
    "folded state must hash-equal the one-shot keep-first oracle on "
    "the union corpus, for ANY batching.  Output is per KEEPING doc: "
    "lines it owns globally and the total occurrences those lines "
    "absorb corpus-wide.  Per-batch state traffic is O(distinct line "
    "hashes in the batch), never the corpus; at production refresh "
    "cadence the log is bucketed by hash (the band-partitioned LSH "
    "store pattern, operators/layout.py:write_bucketed) so the fold "
    "prunes to touched buckets.",
)
def q_streaming_line_dedup(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    root = scratch_dir("stream_line")
    log = f"{root}/state_log"
    drain_residue_batches(
        spark, docs, root, _STREAM_LINE_BATCHES,
        make_line_dedup_batch(log), "streaming_line_dedup",
    )
    return line_dedup_fold(spark, log)
