"""File-pipeline catalog queries: CSV/HTML/JSONL/report round trips, the
paged DataSource, and training-shard writes.
"""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import md5_long, md5_long_sql, tokens
from ..operators.text_analysis import sql_tokens
from .catalog import LAYOUT_WRITE_S, dsum, load, register, sql_dsum
from .pathbound import _BLOCK_ORACLE, mime_blobs


@register(
    "paged_source_scan",
    """
    SELECT 'doc_' || doc_id || '.txt' AS name,
           'd' || (doc_id % 7) AS folder_tag,
           octet_length(encode(coalesce(text, '')))::BIGINT AS size,
           md5(coalesce(text, '')) AS content_md5
    FROM documents WHERE doc_id % 2 = 0
    """,
    survey_ids=("S6",),
    doc="The S6 remote-paged source (sources/paged_store.py — the "
    "reference's Google Drive pageToken walk as a Spark 4 Python "
    "DataSource; utils/20251223-csv-from-googledrive.py:45-107) under "
    "the exact value-hash gate.  build() derives a deterministic "
    "store from the documents table — each doc becomes a file "
    "doc_<id>.txt|.dat under subfolder d<id%7> (nested tree: the "
    "recursive walk is exercised), written from EXECUTORS via "
    "foreachPartition (no driver collect; local-mode scaffolding for "
    "the store's existence, not engine work) — then reads it back "
    "with format('paged_store'), suffix filter '.txt' (the mimeType "
    "filter: .dat files must be excluded) and page_size 16, so the "
    "listing splits into many pages => many Spark partitions.  The "
    "output (name, folder, size, content md5) is recomputed "
    "closed-form by the oracle from the original table, proving the "
    "walk + pagination + partition reassembly + content download "
    "round-trip is value-exact, not just row-counted.",
)
def q_paged_source_scan(spark, sf_dir):
    from ..session import fixed_scratch_dir
    from ..sources.paged_store import PagedStoreDataSource

    root = fixed_scratch_dir(f"paged_{os.path.basename(sf_dir.rstrip('/'))}")
    store = f"{root}/store"
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")

    def write_part(rows):
        for r in rows:
            sub = os.path.join(store, f"d{r.doc_id % 7}")
            os.makedirs(sub, exist_ok=True)
            ext = "txt" if r.doc_id % 2 == 0 else "dat"
            with open(os.path.join(sub, f"doc_{r.doc_id}.{ext}"), "wb") as fh:
                fh.write((r.text or "").encode("utf-8"))

    # Idempotent: content is a pure function of the row, and the fixed
    # scratch root is process-fresh — repeated builds rewrite in place.
    docs.foreachPartition(write_part)
    try:
        spark.dataSource.register(PagedStoreDataSource)
    except Exception:
        pass  # already registered in this session
    df = (
        spark.read.format("paged_store")
        .option("path", store)
        .option("suffix", ".txt")
        .option("page_size", "16")
        .load()
    )
    return df.select(
        "name",
        F.element_at(F.split("folder", "/"), -1).alias("folder_tag"),
        F.col("size"),
        F.md5("content").alias("content_md5"),
    )


# ===========================================================================
# Seeded corpus shuffle + token-balanced training-shard manifest
# ===========================================================================

# The pretraining writer path the packing/mixing stages feed: the
# corpus is re-ordered by a SEEDED deterministic hash (a reproducible
# global shuffle — same seed, same order, any cluster size), laid
# end-to-end in that order, and cut into fixed token-budget shards.
# The manifest (one row per shard) is what a training job consumes to
# schedule readers.  Changing SHUF_SEED re-shuffles; everything stays
# bit-reproducible.
SHUF_SEED = "shuf1"
SHARD_TOKENS = 2048
# h is 60-bit; div 2^53 coarsens it into 128 contiguous h-ranges that
# act as the distributed-prefix-sum partitions.
_HSHARD_DIV = 1 << 53


def _shuffle_shard_oracle() -> str:
    h = md5_long_sql(f"'{SHUF_SEED}:' || doc_id::VARCHAR")
    return f"""
    WITH toks AS (
        SELECT doc_id,
               (length(text) - length(replace(text, ' ', '')) + 1)::BIGINT
                   AS n_tokens,
               {h} AS h
        FROM documents
    ), cum AS (
        SELECT doc_id, n_tokens, h,
               sum(n_tokens) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING)
                 - n_tokens AS gs
        FROM toks
    )
    SELECT (gs // {SHARD_TOKENS})::BIGINT AS shard_id,
           count(*)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS shard_tokens,
           min_by(doc_id, gs) AS first_doc,
           min(h) AS h_lo, max(h) AS h_hi
    FROM cum GROUP BY 1
    """


@register(
    "corpus_shuffle_shards",
    _shuffle_shard_oracle(),
    survey_ids=("A1", "W1"),
    doc="Seeded deterministic corpus shuffle + token-balanced shard "
    f"manifest: docs are re-ordered by md5('{SHUF_SEED}:'||doc_id) — "
    "a reproducible global shuffle, the step between mixing and the "
    "training writer — laid end-to-end and cut into "
    f"{SHARD_TOKENS}-token shards; one manifest row per shard "
    "(doc count, token count, first doc, hash range) is what "
    "schedules training readers.  The running offset is the same "
    "DISTRIBUTED PREFIX SUM as sequence_packing — per-h-range "
    "subtotals (128 contiguous 2^53-wide h buckets) cumulate on a "
    "128-row frame and broadcast back, so there is no global sort "
    "and no single-partition window over the corpus; the oracle's "
    "ORDER-BY-everything window is exactly the plan that does not "
    "scale.  At 100 TB the h-bucket count rises with the corpus "
    "(h div 2^k) keeping per-bucket windows bounded.",
)
def q_corpus_shuffle_shards(spark, sf_dir):
    return _shard_manifest(_shuffled_docs(spark, sf_dir))


def _shuffled_docs(spark, sf_dir):
    """Per-document shard assignment (doc_id, text, n_tokens, h, gs,
    shard_id) — the distributed-prefix-sum shuffle order, shared by
    the manifest query and the shard WRITER so the written layout and
    the manifest cannot drift."""


    docs = load(spark, sf_dir, "documents")
    # toks feeds the within-bucket window AND the bucket totals.
    # Un-cached (round-13 A/B: cached 1.50 s vs 1.40 s without at
    # sf0.1, checksum-identical): same trade as sequence_packing —
    # two cheap md5/length projections recompute from the pruned scan,
    # where the cache materialized a corpus-rows relation first
    # (guide §5).
    toks = docs.select(
        "doc_id",
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            + 1
        )
        .cast("long")
        .alias("n_tokens"),
        md5_long(
            F.concat(F.lit(f"{SHUF_SEED}:"), F.col("doc_id").cast("string"))
        ).alias("h"),
    ).withColumn("hshard", F.expr(f"h div {_HSHARD_DIV}"))
    w_in = (
        Window.partitionBy("hshard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = toks.withColumn("in_cum", F.sum("n_tokens").over(w_in))
    totals = toks.groupBy("hshard").agg(F.sum("n_tokens").alias("st"))
    # bounded-frame: one row per h-shard (128), never the corpus
    w_sh = Window.orderBy("hshard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "hshard", F.coalesce(F.sum("st").over(w_sh), F.lit(0)).alias("off")
    )
    return (
        within.join(F.broadcast(offsets), "hshard")
        .withColumn("gs", F.col("off") + F.col("in_cum") - F.col("n_tokens"))
        .withColumn("shard_id", F.expr(f"gs div {SHARD_TOKENS}"))
        .select("doc_id", "n_tokens", "h", "gs", "shard_id")
    )


def _shard_manifest(assigned):
    """Collapse a per-doc shard assignment into the one-row-per-shard
    reader manifest."""
    return assigned.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("shard_tokens"),
        F.min_by("doc_id", "gs").alias("first_doc"),
        F.min("h").alias("h_lo"),
        F.max("h").alias("h_hi"),
    )


# ===========================================================================
# Training-shard writer: the shuffle+manifest executed as a LAYOUT op
# ===========================================================================

SHARD_FILES = 32  # range-partitioned output files (sized, contiguous)


@register(
    "training_shard_write",
    # The written layout must reproduce the manifest EXACTLY — same
    # oracle as corpus_shuffle_shards, now checked through a parquet
    # round trip of the physical shard files.
    _shuffle_shard_oracle(),
    survey_ids=("S10", "S9"),
    doc="The training-shard WRITER executed in the gate (the "
    "bucketed_join_orders/partition_pruned_scan layout discipline): "
    "the seeded-shuffle shard assignment (shared builder with "
    "corpus_shuffle_shards — layout and manifest cannot drift) is "
    f"written as {SHARD_FILES} range-partitioned parquet files, each "
    "a CONTIGUOUS run of shards in training order "
    "(repartitionByRange on (shard_id, gs) + sortWithinPartitions — "
    "exactly how a production writer packs small logical shards into "
    "sized physical files; at 100 TB SHARD_TOKENS is ~1e8 so the "
    "shard:file ratio tightens, same plan).  The gate then re-reads "
    "the FILES and rebuilds the manifest from them, value-checking "
    "that the physical layout carries doc membership, token counts, "
    "training order (first_doc via min_by on the persisted gs) and "
    "hash ranges through the round trip.  Write seconds land in "
    "LAYOUT_WRITE_S so bench reports the investment apart from the "
    "query (round-6 item-3 discipline).  Payload includes the text "
    "column — these files are what a training reader consumes.",
)
def q_training_shard_write(spark, sf_dir):
    import time as _time

    from ..session import fixed_scratch_dir

    d = fixed_scratch_dir("shards")
    assigned = _shuffled_docs(spark, sf_dir)
    # widen=False: the text payload goes straight into the shard join
    # and then the range exchange — a round-robin widen exchange would
    # shuffle the heavy text bytes an EXTRA time to parallelize a scan
    # that does no per-row compute (guide §2.3: move payload bytes
    # once).  Measured a wash at sf0.1 (write_s ~1.5 s both ways);
    # kept OFF because at scale the extra payload pass only costs.
    docs = load(spark, sf_dir, "documents", widen=False).select("doc_id", "text")
    payload = assigned.join(docs, "doc_id").select(
        "shard_id", "gs", "doc_id", "n_tokens", "h", "text"
    )
    t0 = _time.time()
    (
        payload.repartitionByRange(SHARD_FILES, "shard_id", "gs")
        .sortWithinPartitions("shard_id", "gs")
        .write.mode("overwrite")
        .parquet(f"{d}/shards")
    )
    LAYOUT_WRITE_S["training_shard_write"] = round(_time.time() - t0, 3)
    back = spark.read.parquet(f"{d}/shards")
    return _shard_manifest(back)


# ===========================================================================
# Incremental shard manifest: append-only growth across refreshes
# ===========================================================================

INC_SHARD_BATCHES = 3


def _inc_shard_oracle() -> str:
    h = md5_long_sql(f"'{SHUF_SEED}:' || doc_id::VARCHAR")
    return f"""
    WITH toks AS (
        SELECT doc_id,
               (length(text) - length(replace(text, ' ', '')) + 1)::BIGINT
                   AS n_tokens,
               {h} AS h,
               (doc_id % {INC_SHARD_BATCHES})::BIGINT AS batch_id
        FROM documents
    ), cum AS (
        SELECT doc_id, n_tokens, h, batch_id,
               sum(n_tokens) OVER (ORDER BY batch_id, h, doc_id
                                   ROWS UNBOUNDED PRECEDING)
                 - n_tokens AS gs
        FROM toks
    )
    SELECT (gs // {SHARD_TOKENS})::BIGINT AS shard_id,
           count(*)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS shard_tokens,
           min_by(doc_id, gs) AS first_doc,
           min(batch_id)::BIGINT AS first_batch,
           max(batch_id)::BIGINT AS last_batch
    FROM cum GROUP BY 1
    """


@register(
    "incremental_shard_manifest",
    _inc_shard_oracle(),
    survey_ids=("S11", "ST1", "A1"),
    doc="Append-only shard-manifest growth — the crawl-refresh writer "
    f"shape: documents arrive in {INC_SHARD_BATCHES} refreshes "
    "(doc_id residue batches); each refresh shuffles ITS OWN docs by "
    "the seeded hash, lays them end-to-end starting at the running "
    "global token offset (folded forward from each refresh's own "
    "total — a driver-side integer; the accumulated state is never "
    "re-scanned per refresh), and APPENDS its "
    "assignment rows; earlier shards are never rewritten, exactly "
    "like a production corpus store where refresh N must not "
    "invalidate the shards training already consumed.  The folded "
    "state equals a one-shot manifest over the (batch, h, doc_id) "
    "global order — which is what the oracle computes — so append "
    "semantics are value-checked, not asserted.  A shard written "
    "across a refresh boundary (the carry shard) reports "
    "first_batch < last_batch; per refresh the work is one "
    "within-batch prefix sum (the distributed-prefix-sum machinery "
    "at refresh scale) plus one refresh-sized total aggregate — "
    "never a scan of the accumulated state.",
)
def q_incremental_shard_manifest(spark, sf_dir):
    from ..session import scratch_dir

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            + 1
        )
        .cast("long")
        .alias("n_tokens"),
        md5_long(
            F.concat(F.lit(f"{SHUF_SEED}:"), F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    root = scratch_dir("inc_shards")
    state = f"{root}/assign"
    offset = 0
    for b in range(INC_SHARD_BATCHES):
        batch = docs.filter(F.col("doc_id") % INC_SHARD_BATCHES == b)
        # bounded-frame: one refresh's docs (within-batch prefix sum)
        w = Window.orderBy("h", "doc_id").rowsBetween(
            Window.unboundedPreceding, 0
        )
        # Refresh-scale prefix sum: the window frame is ONE refresh's
        # docs (at production scale, the h-bucketed prefix-sum split
        # of corpus_shuffle_shards applies within the refresh too).
        assigned = batch.select(
            "doc_id",
            "n_tokens",
            "h",
            F.lit(b).cast("long").alias("batch_id"),
            (F.sum("n_tokens").over(w) - F.col("n_tokens") + F.lit(offset)).alias(
                "gs"
            ),
        )
        assigned.write.mode("append").parquet(state)
        # Running offset folds forward from THIS refresh's own total
        # (one refresh-sized aggregate, a driver-side integer) — the
        # accumulated state parquet is never re-read per refresh, so
        # per-refresh cost stays O(refresh), not O(total state).
        offset += (
            batch.agg(F.sum("n_tokens").cast("long").alias("t")).first()["t"] or 0
        )
    back = spark.read.parquet(state).withColumn(
        "shard_id", F.expr(f"gs div {SHARD_TOKENS}")
    )
    return back.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("shard_tokens"),
        F.min_by("doc_id", "gs").alias("first_doc"),
        F.min("batch_id").cast("long").alias("first_batch"),
        F.max("batch_id").cast("long").alias("last_batch"),
    )

# ===========================================================================
# S2: inferSchema CSV round-trip
# ===========================================================================

_INFCSV_ORACLE = f"""
    SELECT o_orderstatus,
           count(*)::BIGINT AS n,
           sum(o_orderkey)::BIGINT AS sum_key,
           sum(o_custkey)::BIGINT AS sum_cust,
           {sql_dsum('o_totalprice')} AS sum_price,
           min(o_orderdate::DATE) AS min_date,
           max(o_orderdate::DATE) AS max_date,
           sum(CASE WHEN month(o_orderdate) = 3 THEN 1 ELSE 0 END)::BIGINT
               AS n_march
    FROM orders
    GROUP BY o_orderstatus
"""


@register(
    "inferred_csv_roundtrip",
    _INFCSV_ORACLE,
    survey_ids=("S2", "G13"),
    doc="The literal inferSchema CSV scan (sources/csv_normalized.py:"
    "inferred_csv_scan — the reference's read_csv_auto mode, "
    "utils/20251223-csv-for-duckdb.py) under the value gate: a CSV "
    "twin of orders is written to scratch with DELIBERATELY messy "
    "headers (leading/trailing spaces, a '(calibrated ...)' "
    "annotation — the S4 normalizer's diet), read back through the "
    "inference path, and aggregated per order status.  Every agg arm "
    "PROVES a type inference: sum_key/sum_cust need integer columns, "
    "sum_price a double, min/max/month(o_orderdate) a temporal type — "
    "a column left as string nulls or errors the arm, so a wrong "
    "inference cannot hash-match the oracle reading the ORIGINAL "
    "parquet.  Scale shape: the CSV write/scan are full-width but "
    "one-pass; the aggregate is map-side combined on status.",
)
def q_inferred_csv_roundtrip(spark, sf_dir):
    from ..session import fixed_scratch_dir
    from ..sources.csv_normalized import inferred_csv_scan

    orders = load(spark, sf_dir, "orders")
    path = f"{fixed_scratch_dir('infcsv')}/orders_csv"
    (
        orders.select(
            F.col("o_orderkey").alias("o_orderkey"),
            F.col("o_custkey").alias(" o_custkey "),
            F.col("o_orderstatus").alias("o_orderstatus"),
            F.col("o_totalprice").alias("o_totalprice(calibrated -0.1 deg C)"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        )
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )
    df = inferred_csv_scan(spark, path)
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("o_orderkey").cast("long").alias("sum_key"),
        F.sum("o_custkey").cast("long").alias("sum_cust"),
        dsum("o_totalprice").alias("sum_price"),
        F.min(F.col("o_orderdate").cast("date")).alias("min_date"),
        F.max(F.col("o_orderdate").cast("date")).alias("max_date"),
        F.sum(
            F.when(F.month("o_orderdate") == 3, F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n_march"),
    )


# ===========================================================================
# S8: HTML table extraction over real files
# ===========================================================================

_N_HTML_FILES = 16

_HTMLTBL_ORACLE = f"""
    WITH e AS (
        SELECT event_id, event_type, user_id, event_id % {_N_HTML_FILES} AS r
        FROM events
    ),
    data_rows AS (
        SELECT 'tbl_' || r::VARCHAR || '.html' AS fname,
               0::BIGINT AS table_idx,
               row_number() OVER (PARTITION BY r ORDER BY event_id)::BIGINT
                   AS row_idx,
               3::BIGINT AS n_cells,
               event_id::VARCHAR || ' | ' || event_type || ' | ' ||
                   (user_id % 100)::VARCHAR AS row_text
        FROM e
    ),
    header_rows AS (
        SELECT DISTINCT 'tbl_' || r::VARCHAR || '.html' AS fname,
               0::BIGINT AS table_idx, 0::BIGINT AS row_idx,
               3::BIGINT AS n_cells,
               'id | type | u' AS row_text
        FROM e
    ),
    extra_rows AS (
        SELECT DISTINCT 'tbl_' || r::VARCHAR || '.html' AS fname,
               1::BIGINT AS table_idx, 0::BIGINT AS row_idx,
               1::BIGINT AS n_cells,
               'second table ' || r::VARCHAR AS row_text
        FROM e WHERE r % 3 = 0
    )
    SELECT * FROM data_rows
    UNION ALL SELECT * FROM header_rows
    UNION ALL SELECT * FROM extra_rows
"""


@register(
    "html_table_extract",
    _HTMLTBL_ORACLE,
    survey_ids=("S8", "P9"),
    doc="S8 (utils/loose_thoughts_TD2.py:41-60) under the value gate: "
    f"{_N_HTML_FILES} REAL .html files are derived from the events "
    "table (one per event_id residue; rows carry ragged whitespace "
    "and a <th> header the parser must normalize; every third file "
    "holds a SECOND table for table_idx), written to scratch, and "
    "parsed through the production path — binaryFile scan + "
    "mapInPandas HTML state machine "
    "(pipelines/jobsearch.py:extract_html_tables).  The oracle "
    "recomputes every (file, table, row) closed-form from events.  "
    "Driver boundedness: the file materialization collects exactly "
    f"{_N_HTML_FILES} pre-aggregated rows (one per file — bounded by "
    "construction, not by data volume); the PARSE runs distributed.  "
    "At 100 TB the files come from a crawl store and the same "
    "binaryFile-glob plan applies per shard.",
)
def q_html_table_extract(spark, sf_dir):
    from pathlib import Path

    from ..pipelines.jobsearch import extract_html_tables
    from ..session import fixed_scratch_dir

    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    r = F.col("event_id") % _N_HTML_FILES
    # Ragged whitespace inside cells: the parser's whitespace
    # normalization (' '.join(split())) must collapse it.
    row_html = F.concat(
        F.lit("<tr><td>  "),
        F.col("event_id").cast("string"),
        F.lit("\n</td><td> "),
        F.col("event_type"),
        F.lit(" </td><td>"),
        (F.col("user_id") % 100).cast("string"),
        F.lit("</td></tr>"),
    )
    per_file = (
        ev.groupBy(r.alias("r"))
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("event_id"), row_html.alias("h")))
                    ),
                    lambda x: x["h"],
                ),
                "",
            ).alias("rows_html")
        )
        .select(
            "r",
            F.concat(
                F.lit("<html><body><h1>not a table</h1><table>"),
                F.lit("<tr><th>id</th><th> type </th><th>u</th></tr>"),
                F.col("rows_html"),
                F.lit("</table>"),
                F.when(
                    F.col("r") % 3 == 0,
                    F.concat(
                        F.lit("<p>between</p><table><tr><td>second  table "),
                        F.col("r").cast("string"),
                        F.lit("</td></tr></table>"),
                    ),
                ).otherwise(F.lit("")),
                F.lit("</body></html>"),
            ).alias("html"),
        )
    )
    root = Path(fixed_scratch_dir("htmltbl"))
    # Bounded collect: exactly _N_HTML_FILES rows by construction.
    for row in per_file.collect():
        (root / f"tbl_{row.r}.html").write_text(row.html, encoding="utf-8")
    out = extract_html_tables(spark, f"{root}/*.html")
    return out.select(
        F.regexp_extract("path", r"(tbl_\d+\.html)$", 1).alias("fname"),
        F.col("table_idx").cast("long").alias("table_idx"),
        F.col("row_idx").cast("long").alias("row_idx"),
        F.size("cells").cast("long").alias("n_cells"),
        "row_text",
    )


# ===========================================================================
# S12: text-report sink, line-exact
# ===========================================================================


def _report_oracle() -> str:
    # The surviving-block relation is block_capture's oracle verbatim
    # (shared CTE text — the two gates cannot drift); the report is
    # rebuilt closed-form: groups keyed by the block's first line,
    # snapshots DESC within group, groups by first-snapshot date DESC
    # then key ASC, 4 lines per snapshot + header + trailing blank,
    # global line numbers via running group sizes.
    # Keep only the CTE chain (everything before the final SELECT):
    # the QUALIFY dedup is replayed inside `snaps` below.
    ctes = _BLOCK_ORACLE.strip().removeprefix("WITH")
    cut = ctes.rindex("SELECT file_label, block_date, group_key, n_lines")
    ctes = ctes[:cut].rstrip()
    return f"""
    WITH {ctes},
    snaps AS (
        SELECT file_label, block_date, group_key,
               string_split(signature, chr(31)) AS ls,
               signature
        FROM (SELECT * FROM allb QUALIFY row_number() OVER (
                  PARTITION BY signature
                  ORDER BY file_label, block_date) = 1)
    ),
    g AS (
        SELECT group_key, max(block_date) AS group_date,
               count(*)::BIGINT AS n_snap
        FROM snaps GROUP BY group_key
    ),
    go AS (
        SELECT *,
               coalesce(sum(2 + 4 * n_snap) OVER (
                   ORDER BY group_date DESC, group_key
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS goff
        FROM g
    ),
    so AS (
        SELECT s.*, go.goff,
               row_number() OVER (
                   PARTITION BY s.group_key
                   ORDER BY s.block_date DESC, s.file_label DESC,
                            s.signature DESC)::BIGINT AS srn
        FROM snaps s JOIN go USING (group_key)
    ),
    lines AS (
        SELECT goff AS line_no,
               '## ' || group_key || '  (' || group_date::VARCHAR || ')'
                   AS line
        FROM go
        UNION ALL
        SELECT goff + 1 + 4 * (srn - 1), '- [' || file_label || ']' FROM so
        UNION ALL
        SELECT goff + 2 + 4 * (srn - 1), '  ' || ls[1] FROM so
        UNION ALL
        SELECT goff + 3 + 4 * (srn - 1), '  ' || ls[2] FROM so
        UNION ALL
        SELECT goff + 4 + 4 * (srn - 1), '  ' || ls[3] FROM so
        UNION ALL
        SELECT goff + 1 + 4 * n_snap, '' FROM go
    )
    SELECT line_no::BIGINT AS line_no, line FROM lines
    """


@register(
    "report_render_lines",
    _report_oracle(),
    survey_ids=("S12", "O3", "P6"),
    doc="S12 (utils/loose_thoughts.py:121-133) under the value gate: "
    "block_capture's MIME corpus (shared blob builder — "
    "pathbound.mime_blobs) runs the production chain extract -> "
    "dedup -> grouped_report -> render_report -> write_text_report, "
    "the written file is read back, and every (line_no, line) must "
    "hash-match the oracle's closed-form reconstruction of the "
    "report — group headers, snapshot labels, indented block lines, "
    "blank separators, global line numbering.  The render/sink is "
    "driver-side BY CONTRACT (reports are human-scale; a 1,000-group "
    "cap bounds the collect — pipelines/jobsearch.py:render_report), so "
    "the gate here is line-exactness of the sink format, with the "
    "heavy lifting (parse, dedup, group, sort) distributed upstream.",
)
def q_report_render_lines(spark, sf_dir):
    from pathlib import Path

    from ..pipelines.jobsearch import (
        dedup_blocks,
        extract_blocks,
        grouped_report,
        render_report,
    )
    from ..session import fixed_scratch_dir
    from ..sources.writers import write_text_report

    ev = load(spark, sf_dir, "events").select("event_id", "ts")
    ev = ev.repartition(spark.sparkContext.defaultParallelism)
    blocks = dedup_blocks(extract_blocks(mime_blobs(ev)))
    grouped = grouped_report(blocks)
    # <= 91 groups by construction (50 'Job k' + 41 'Role m' keys).
    lines = render_report(grouped)
    out = Path(fixed_scratch_dir("report")) / "report.txt"
    write_text_report(lines, out)
    read_back = out.read_text(encoding="utf-8").splitlines()
    return spark.createDataFrame(
        list(enumerate(read_back)), "line_no long, line string"
    )


# ===========================================================================
# JSONL source/sink round trip
# ===========================================================================

_JSONL_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, source, lang, n_chars,
               ({sql_tokens("lower(coalesce(text, ''))")})[1:3] AS head
        FROM documents
    )
    SELECT lang,
           count(*)::BIGINT AS n,
           sum(n_chars)::BIGINT AS sum_chars,
           count(DISTINCT source)::BIGINT AS n_sources,
           sum(len(head))::BIGINT AS sum_head_toks,
           sum({md5_long_sql("array_to_string(head, ' ')")} % 1000003)::BIGINT
               AS toks_checksum
    FROM t
    GROUP BY lang
"""


@register(
    "jsonl_roundtrip",
    _JSONL_ORACLE,
    survey_ids=(),
    doc="The JSONL source/sink (sources/jsonl.py) under the value "
    "gate: documents are projected to (id, source, nested meta "
    "struct, head-token array), written as sharded JSONL, read back "
    "through the DECLARED-SCHEMA scan (single-pass, no inference "
    "sweep — the 100 TB posture), and aggregated per lang.  Every "
    "agg arm proves a parsed type: sum_chars needs the NESTED bigint "
    "(meta.n_chars), sum_head_toks/toks_checksum need the string "
    "array parsed element-exactly (checksum = sum of per-row md5 "
    "residues mod 1000003 — order-free, overflow-free), n_sources a "
    "string field.  The oracle recomputes from the ORIGINAL parquet, "
    "so any serialization loss in the round trip hash-mismatches.",
)
def q_jsonl_roundtrip(spark, sf_dir):
    from ..session import fixed_scratch_dir
    from ..sources.jsonl import jsonl_scan, write_jsonl

    docs = load(spark, sf_dir, "documents")
    head = F.slice(
        tokens(F.lower(F.coalesce(F.col("text"), F.lit("")))), 1, 3
    )
    j = docs.select(
        "doc_id",
        "source",
        F.struct(F.col("lang"), F.col("n_chars")).alias("meta"),
        head.alias("head_toks"),
    )
    path = f"{fixed_scratch_dir('jsonl')}/documents_jsonl"
    write_jsonl(j, path)
    r = jsonl_scan(
        spark,
        path,
        "doc_id bigint, source string, "
        "meta struct<lang:string,n_chars:bigint>, head_toks array<string>",
    )
    return r.groupBy(F.col("meta.lang").alias("lang")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("meta.n_chars").cast("long").alias("sum_chars"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum(F.size("head_toks")).cast("long").alias("sum_head_toks"),
        F.sum(md5_long(F.concat_ws(" ", "head_toks")) % F.lit(1000003))
        .cast("long")
        .alias("toks_checksum"),
    )
