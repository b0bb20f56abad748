"""Advanced relational / graph / dedup patterns a 100 TB pipeline needs.

Four additions, each chosen for a distinct scale posture the rest of
the catalog does not yet demonstrate:

- ``scd2_user_state`` — slowly-changing-dimension (type 2) history
  build: the CDC/warehouse pattern of collapsing an event stream into
  validity intervals.  Two keyed windows, no self-join.
- ``pagerank_part_supplier`` — fixed-iteration PageRank over the
  part<->supplier co-occurrence graph: the second iterative-algorithm
  surface next to connected components (operators/clusters.py), with
  integer-quantized contribution sums so the result is
  order-independent and oracle-checkable.
- ``snm_near_dup`` — sorted-neighborhood near-dup detection: the
  classic blocking alternative to LSH (sort once, compare a sliding
  window of w neighbors).  One sort-shuffle total; pair count is
  O(n*w), never quadratic.
- ``bitmap_distinct_users`` — EXACT distinct counting via 64-bit-word
  bitmap aggregation: the dense-id counterpart to the HLL sketch
  (operators/sketches.py) — same shuffle shape as HLL (tiny per-group
  state, map-side combined) but exact, because user ids are dense
  integers.  100 TB of events never ship raw ids past the first
  partial aggregate.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions import md5_long_sql
from .catalog import load, register

# ===========================================================================
# SCD2 dimension build (CDC pattern; SURVEY W2/A6 lineage)
# ===========================================================================


@register(
    "scd2_user_state",
    """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ), changes AS (
        SELECT user_id, event_type AS state, ts AS valid_from, event_id
        FROM ordered
        WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, state, valid_from,
           lead(valid_from) OVER w AS valid_to,
           row_number() OVER w::BIGINT AS version,
           (lead(valid_from) OVER w IS NULL) AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)
    """,
    survey_ids=("W1", "W2", "A6"),
    doc="Slowly-changing-dimension type-2 build: each user's event "
    "stream collapses into (state, valid_from, valid_to, version, "
    "is_current) validity intervals — change detection via lag, "
    "interval close via lead, both over the same (user_id) "
    "partitioning so the second window reuses the first's shuffle.  "
    "This is the CDC pattern for maintaining dimension tables from "
    "event logs; at 100 TB it is two keyed windows (one shuffle) and "
    "no self-join.  Ties on ts break on event_id, so the history is "
    "deterministic.",
)
def q_scd2_user_state(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w_ord))
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            "event_id",
        )
    )
    w = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return changes.select(
        "user_id",
        "state",
        "valid_from",
        F.lead("valid_from").over(w).alias("valid_to"),
        F.row_number().over(w).cast("long").alias("version"),
        F.lead("valid_from").over(w).isNull().alias("is_current"),
    )


# ===========================================================================
# Fixed-iteration PageRank (iterative algorithm #2 after connected
# components; exact-decimal sums keep it order-independent)
# ===========================================================================

_PR_ITERS = 3


def _pagerank_oracle() -> str:
    # Node ids: part p -> 2p, supplier s -> 2s+1 (disjoint domains).
    # Symmetric edges => no dangling nodes, every node keeps rank mass.
    base = """
    WITH edges AS (
        SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        FROM lineitem
        UNION
        SELECT DISTINCT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst
        FROM lineitem
    ), deg AS (
        SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY src
    ), r0 AS (
        SELECT src AS id, 1.0::DOUBLE AS rank FROM deg
    )
    """
    prev = "r0"
    steps = []
    for i in range(1, _PR_ITERS + 1):
        steps.append(
            f""", r{i} AS (
        SELECT e.dst AS id,
               0.15::DOUBLE + 0.85::DOUBLE *
               (sum(floor((r.rank / d.outdeg) * 100000000.0)::BIGINT)::DOUBLE
                / 100000000.0) AS rank
        FROM edges e
        JOIN {prev} r ON e.src = r.id
        JOIN deg d ON e.src = d.src
        GROUP BY e.dst
    )"""
        )
        prev = f"r{i}"
    return (
        base
        + "".join(steps)
        + f"""
    SELECT id,
           CASE WHEN id % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
           rank
    FROM {prev}
    """
    )


@register(
    "pagerank_part_supplier",
    _pagerank_oracle(),
    survey_ids=("J1", "A1"),
    doc="Fixed-iteration (3) PageRank over the bipartite part<->supplier "
    "graph from lineitem, damping 0.85.  Each iteration is one keyed "
    "join (edges shuffled once on src, rank/deg co-keyed) plus a "
    "group-by on dst — the standard distributed PageRank round; "
    "symmetric edges mean no dangling-mass correction is needed.  "
    "Contributions are floor(x*1e8)-quantized in INTEGER arithmetic "
    "and summed as BIGINT in BOTH engines, so the per-round totals "
    "are exact and order-independent — an iterative float algorithm "
    "that is still value-hash-checkable.  (Integer floor, NOT a "
    "double->decimal cast: IEEE multiply+floor are bit-identical "
    "across engines, while decimal casts of doubles round from "
    "different representations.)  Edge count is vocabulary-bounded "
    "(distinct part-supplier pairs), not row-bounded: 100 TB of "
    "lineitem first collapses through the DISTINCT.",
)
def q_pagerank_part_supplier(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    fwd = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    # edges/deg feed every iteration.  NOT cached: both end at an
    # exchange (distinct / aggregate), so AQE exchange reuse dedups
    # them at the stage-graph level — a lazy .cache() here RACED when
    # the nested iteration plan's branch stages scanned it
    # concurrently, re-running the lineitem DISTINCT several times
    # (10x soak: 55 s cached-with-race vs 15 s uncached+hash-join).
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = deg.select(F.col("src").alias("id"), F.lit(1.0).alias("rank"))
    for _ in range(_PR_ITERS):
        # shuffle_hash: SMJ would re-SORT the 2|E|-row edge relation
        # every iteration (the exchange is reused, sorts are not);
        # hash-building the node-sized rank/deg side skips that — and
        # unlike a broadcast it neither funnels |V| rows through the
        # driver per iteration (measured 2.6x slower) nor breaks at
        # billion-node scale.
        contrib = (
            edges.join(
                ranks.hint("shuffle_hash"), edges.src == ranks.id
            )
            .join(deg.hint("shuffle_hash"), "src")
            .select(
                F.col("dst").alias("id"),
                F.floor((F.col("rank") / F.col("outdeg")) * F.lit(1e8)).alias("c"),
            )
        )
        ranks = contrib.groupBy("id").agg(
            (
                F.lit(0.15)
                + F.lit(0.85) * (F.sum("c").cast("double") / F.lit(1e8))
            ).alias("rank")
        )
    return ranks.select(
        "id",
        F.when(F.col("id") % 2 == 0, F.lit("part"))
        .otherwise(F.lit("supplier"))
        .alias("kind"),
        "rank",
    )


# ===========================================================================
# Sorted-neighborhood near-dup (blocking alternative to LSH)
# ===========================================================================

_SNM_KEY_LEN = 24  # normalized sort-key length
_SNM_BLK_LEN = 6  # coarse block = sort-key prefix (the partition key)
_SNM_HEAD = 40  # compare prefix (caps the O(len^2) edit distance)
_SNM_MAX_DIST = 12
_SNM_WINDOW = 2  # compare each doc to its next w neighbors
# Degenerate-run cap (round-4 verdict item 6): only the first
# _SNM_MAX_RUN docs of an exact-sort-key run take part in the
# neighborhood pass.  SNM's O(n*w) pair bound is per POSITION, but a
# run of identical keys (mass-duplicated boilerplate) makes every one
# of its pairs a sub-threshold match — the 10x-duplicated soak grew
# output 321x.  Identical-skey docs beyond the first few add no
# information (they are the same near-dup class by construction; the
# dup_clusters operator is the tool for enumerating members), so the
# cap trades nothing on non-degenerate data — runs there are 1-2 long.
# 4, not 8: the 10x soak builds runs of exactly 10 (verbatim copies),
# and a cap of 8 barely bound them (output still grew 232x); 4 keeps
# two pairs per degenerate clump, which is all the signal there is.
_SNM_MAX_RUN = 4


def _snm_oracle(slice_mod: int | None = None) -> str:
    """``slice_mod=m`` bounds BOTH engines to the ~1/m of coarse BLOCKS
    whose md5(block-key) residue is 0 — blocks are the window partition
    key, so whole-block slicing is exact (no window is cut mid-frame).
    This is the sf10 value-check path: the full oracle's pair CTEs
    exhaust DuckDB's 24 GB cap on a 100x-verbatim corpus."""
    leads = []
    arms = []
    for off in range(1, _SNM_WINDOW + 1):
        leads.append(
            f"lead(doc_id, {off}) OVER win AS n{off}_id, "
            f"lead(head, {off}) OVER win AS n{off}_head"
        )
        arms.append(
            f"""
        SELECT doc_id AS doc_a, n{off}_id AS doc_b,
               levenshtein(head, n{off}_head)::BIGINT AS dist
        FROM w WHERE n{off}_id IS NOT NULL"""
        )
    from ..functions import sql_codepoint_relabel, sql_portable_lower

    head_norm = sql_portable_lower(
        "regexp_replace(text, '[^\\p{L}\\p{Nd} ]', '', 'g')"
    )
    skey_norm = sql_portable_lower(
        "regexp_replace(text, '[^\\p{L}\\p{Nd}]', '', 'g')"
    )
    from ..functions import md5_long_sql

    # The slice must apply BEFORE the per-character relabel explode
    # (__chars is |docs| x head_len rows — the memory hog at sf10):
    # k00 computes the keys for everyone, k0 keeps only the sliced
    # blocks, and everything downstream (relabel, run-cap windows,
    # neighbor leads) runs on the 1/slice_mod subset.
    k0_body = (
        f"""k00 AS (
        SELECT doc_id,
               substr({head_norm}, 1, {_SNM_HEAD}) AS head,
               substr({skey_norm}, 1, {_SNM_KEY_LEN}) AS skey
        FROM documents
    ), k0 AS (
        SELECT * FROM k00
        WHERE {md5_long_sql(f'substr(skey, 1, {_SNM_BLK_LEN})')} % {slice_mod} = 0
    )"""
        if slice_mod
        else f"""k0 AS (
        SELECT doc_id,
               substr({head_norm}, 1, {_SNM_HEAD}) AS head,
               substr({skey_norm}, 1, {_SNM_KEY_LEN}) AS skey
        FROM documents
    )"""
    )
    return f"""
    WITH {k0_body}{sql_codepoint_relabel("k0", "k", carry=("skey",))}, r AS (
        SELECT doc_id, head, skey,
               row_number() OVER win AS rn,
               CASE WHEN lag(skey) OVER win IS DISTINCT FROM skey
                    THEN 1 ELSE 0 END AS flag
        FROM k
        WINDOW win AS (PARTITION BY substr(skey, 1, {_SNM_BLK_LEN})
                       ORDER BY skey, doc_id)
    ), p AS (
        SELECT doc_id, head, skey,
               rn - max(flag * rn) OVER
                   (PARTITION BY substr(skey, 1, {_SNM_BLK_LEN})
                    ORDER BY skey, doc_id ROWS UNBOUNDED PRECEDING) AS pos
        FROM r
    ), f AS (
        SELECT doc_id, head, skey FROM p WHERE pos < {_SNM_MAX_RUN}
    ), w AS (
        SELECT doc_id, head, {", ".join(leads)}
        FROM f
        WINDOW win AS (PARTITION BY substr(skey, 1, {_SNM_BLK_LEN})
                       ORDER BY skey, doc_id)
    ), pairs AS ({" UNION ALL ".join(arms)})
    SELECT doc_a, doc_b, dist FROM pairs WHERE dist <= {_SNM_MAX_DIST}
    """


@register(
    "snm_near_dup",
    _snm_oracle(),
    survey_ids=("A7",),
    doc="Sorted-neighborhood near-dup detection: normalize text to a "
    "sort key, order within coarse key-prefix blocks, compare each "
    "doc to its next w=2 neighbors with edit distance over a capped "
    "prefix.  The classic record-linkage alternative to LSH banding: "
    "ONE sort-shuffle on the block key, pair count O(n*w) by "
    "construction (never quadratic), and edit distance is "
    "bit-portable so the oracle is exact.  Blocks are key-prefix "
    "partitions, so AQE's skew split applies if one prefix is hot; "
    "near-identical docs share normalized prefixes, which is exactly "
    "what sorting exploits.  UNICODE-CORRECT compare: the head keeps "
    "unicode letters/digits (CJK, diacritics), Spark's codepoint "
    "levenshtein is the semantics, and the oracle relabels non-ASCII "
    "codepoints to free single-byte chars (edit distance is relabel-"
    "invariant) so DuckDB's byte-based levenshtein matches exactly.  "
    "Sort keys compare identically on both engines (binary UTF-8 "
    "order); BMP-only for substr parity (UTF-16 units vs codepoints)."
    "  A degenerate run of IDENTICAL sort keys "
    "(mass-duplicated boilerplate — the 10x soak grew output 321x) "
    "is capped: only the first _SNM_MAX_RUN docs of an exact-skey "
    "run enter the pass, computed with the islands trick (running "
    "max of run-start row numbers) over the SAME partitioning as the "
    "neighbor window, so the cap adds no exchange.",
)
def q_snm_near_dup(spark, sf_dir):
    return snm_near_dup_frame(load(spark, sf_dir, "documents"))


def snm_near_dup_frame(docs, slice_mod: int | None = None):
    """The SNM chain over a documents frame — shared by the flagship
    query and its sf10 bounded-slice twin (below).  ``slice_mod``
    keeps only blocks with md5(block-key) % slice_mod == 0 (whole-block
    slicing — exact, since every window partitions by the block key)."""
    # Unicode-correct compare head: keep letters/digits of ANY script.
    # Spark levenshtein counts codepoints (the semantics we define);
    # the oracle relabels non-ASCII codepoints to single-byte chars so
    # DuckDB's byte-based distance agrees (functions.sql_codepoint_relabel).
    # portable_lower: Spark's full case mapping diverges from DuckDB's
    # simple mapping on İ/Σ (functions.portable_lower) — fold them
    # first so head AND skey are byte-identical across engines.
    from ..functions import portable_lower

    k = docs.select(
        "doc_id",
        F.substring(
            portable_lower(F.regexp_replace("text", r"[^\p{L}\p{Nd} ]", "")),
            1, _SNM_HEAD,
        ).alias("head"),
        F.substring(
            portable_lower(F.regexp_replace("text", r"[^\p{L}\p{Nd}]", "")),
            1, _SNM_KEY_LEN,
        ).alias("skey"),
    )
    # The block key is materialized as a COLUMN, not left as an inline
    # partition expression: each Window would otherwise stage its own
    # fresh `_w0 = substring(...)` projection, and the mismatched
    # attributes force one exchange PER window (3 total, measured)
    # instead of one shared clustering.
    k = k.withColumn("__blk", F.substring("skey", 1, _SNM_BLK_LEN))
    if slice_mod:
        from ..functions import md5_long

        k = k.filter(md5_long(F.col("__blk")) % slice_mod == 0)
    win = Window.partitionBy("__blk").orderBy("skey", "doc_id")
    # Degenerate-run cap: position within the exact-skey run via the
    # islands trick — run starts flagged by lag, running max of
    # flag*rn gives the run's first row number.  Every window here
    # shares win's partition+order, so the filter costs no shuffle.
    rn = F.row_number().over(win)
    flag = F.when(
        F.lag("skey").over(win).eqNullSafe(F.col("skey")), F.lit(0)
    ).otherwise(F.lit(1))
    run_win = win.rowsBetween(Window.unboundedPreceding, 0)
    k = (
        # rn/flag staged in their own projection: window expressions
        # cannot nest inside another window function's argument.
        k.select("*", rn.alias("__rn"), flag.alias("__flag"))
        .withColumn("__start", F.max(F.col("__flag") * F.col("__rn")).over(run_win))
        .filter(F.col("__rn") - F.col("__start") < _SNM_MAX_RUN)
        .drop("__rn", "__flag", "__start")
    )
    # All neighbors from ONE window pass, exploded — a UNION of
    # per-offset arms would duplicate the scan+sort subtree per arm.
    # (Leads are projected before the explode: generators cannot host
    # window expressions.)
    led = k.select(
        "doc_id",
        "head",
        F.array(
            *[
                F.struct(
                    F.lead("doc_id", off).over(win).alias("id"),
                    F.lead("head", off).over(win).alias("head"),
                )
                for off in range(1, _SNM_WINDOW + 1)
            ]
        ).alias("neighbors"),
    )
    w = led.select("doc_id", "head", F.explode("neighbors").alias("n"))
    return (
        w.filter(F.col("n.id").isNotNull())
        .select(
            F.col("doc_id").alias("doc_a"),
            F.col("n.id").alias("doc_b"),
            F.levenshtein("head", F.col("n.head")).cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= _SNM_MAX_DIST)
    )


# ===========================================================================
# Exact distinct via bitmap aggregation (dense-id counterpart to HLL)
# ===========================================================================


@register(
    "bitmap_distinct_users",
    """
    SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
    FROM events GROUP BY event_type
    """,
    survey_ids=("A1", "A3"),
    doc="EXACT per-group distinct counting via 64-bit-word bitmaps: "
    "each user id maps to (word = id div 64, bit = id mod 64); the "
    "first aggregate bit_or's words per (group, word) WITH map-side "
    "partial combine, the second sums bit_count(word).  Same tiny-"
    "state shuffle shape as the HLL sketch but exact, because ids "
    "are dense integers — COUNT(DISTINCT) without ever shipping or "
    "re-shuffling raw ids, and the bitmap state is mergeable across "
    "partitions/days by the same bit_or.  The oracle is the plain "
    "COUNT(DISTINCT) it must equal.",
)
def q_bitmap_distinct_users(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    # Arithmetic shift = FLOOR division, consistent with pmod's floor
    # modulus for negative ids (`div` truncates toward zero, which
    # would collide id -1 with id 63 in word 0).
    words = ev.groupBy(
        "event_type", F.expr("shiftright(user_id, 6)").alias("word")
    ).agg(
        F.expr("bit_or(shiftleft(1L, cast(pmod(user_id, 64) as int)))").alias("bits")
    )
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).alias("n_users")
    )


# ===========================================================================
# Snapshot diff (CDC reconciliation between two table versions)
# ===========================================================================

# The "new" snapshot is derived deterministically from orders so the
# gate needs no second input: rows with key % 97 == 0 are deleted,
# key % 31 == 0 get a price bump, key % 113 == 0 spawn an inserted
# twin under key -(k+1) (order keys are non-negative, so negatives
# cannot collide with the live domain — including the k=0 row).

_DIFF_DELETE, _DIFF_CHANGE, _DIFF_INSERT = 97, 31, 113


def _diff_new_sql() -> str:
    return f"""
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % {_DIFF_CHANGE} = 0
                    THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % {_DIFF_DELETE} <> 0
        UNION ALL
        SELECT -(o_orderkey + 1), o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % {_DIFF_INSERT} = 0
    """


@register(
    "snapshot_diff",
    f"""
    WITH new_snap AS ({_diff_new_sql()})
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS status,
           concat_ws(',',
               CASE WHEN o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
                         AND o.o_orderstatus <> n.o_orderstatus
                    THEN 'o_orderstatus' END,
               CASE WHEN o.o_orderkey IS NOT NULL AND n.o_orderkey IS NOT NULL
                         AND o.o_totalprice <> n.o_totalprice
                    THEN 'o_totalprice' END) AS changed_cols
    FROM (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders) o
    FULL OUTER JOIN new_snap n USING (o_orderkey)
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_orderstatus <> n.o_orderstatus
       OR o.o_totalprice <> n.o_totalprice
    """,
    survey_ids=("J3", "U3"),
    doc="Table-version reconciliation (CDC diff): align two snapshots "
    "on the key, classify each row added/removed/changed, and name "
    "the changed columns.  The audit primitive behind incremental "
    "syncs and MERGE validation: ONE keyed shuffle however wide the "
    "table (side-tagged union + keyed (sort) aggregate — struct max "
    "buffers aren't hash-aggregable — same bytes moved as a "
    "full-outer join's two exchanges, minus the join's sorts; "
    "sound because the key is unique within each snapshot), column "
    "comparison stays in codegen, and unchanged rows are filtered "
    "before leaving the aggregate — output is proportional to the "
    "DELTA, not the table.  The 'new' snapshot is derived in-query "
    "(delete/update/insert by key residues) so both engines "
    "construct it identically.",
)
def q_snapshot_diff(spark, sf_dir):
    # orders feeds three branches (old side, the delete/update arm, the
    # insert arm).  Deliberately NOT cached: a 3-column pruned parquet
    # scan x3 is cheaper than one scan + an InMemoryRelation build + 3
    # cache reads (measured 1.45 -> 1.20 s at sf0.1), and at 100 TB a
    # table-sized cache would spill outright (guide-§5 trade: cache
    # only when recompute beats the memory pressure — it doesn't here).
    # widen=False: the per-row work before the union's exchange is a
    # couple of modulo filters — the round-robin widen exchange of the
    # payload costs more than it parallelizes (measured median 1.87 ->
    # 0.74 s at sf0.1 on the join shape, identical checksum).
    old, new_snap = _diff_sides(spark, sf_dir)
    return (
        _diff_aligned(old, new_snap)
        .filter(
            F.col("o").isNull()
            | F.col("n").isNull()
            | _diff_status_ne()
            | _diff_price_ne()
        )
        .select(
            "o_orderkey",
            F.when(F.col("o").isNull(), "added")
            .when(F.col("n").isNull(), "removed")
            .otherwise("changed")
            .alias("status"),
            F.concat_ws(
                ",",
                F.when(_diff_both() & _diff_status_ne(), "o_orderstatus"),
                F.when(_diff_both() & _diff_price_ne(), "o_totalprice"),
            ).alias("changed_cols"),
        )
    )


# Shared by snapshot_diff / snapshot_patch_apply: the two snapshot
# sides, and their key alignment as ONE side-tagged union + keyed
# aggregate instead of a full-outer SortMergeJoin.  Equivalent because
# o_orderkey is unique WITHIN each side (orders' key; the new side is a
# residue-filtered copy plus negated insert keys), so max(when(side))
# picks each side's single row and (o IS NULL / n IS NULL / both) are
# exactly the full-outer join's row classes.  Same shuffle bytes (both
# sides move once, keyed), but ONE exchange serves both sides and the
# aggregate pays one sort where the SMJ paid an exchange + sort PER
# side (struct max buffers aren't hash-aggregable, so this plans as
# SortAggregate — still strictly less work than the join).  Measured
# 0.74 -> 0.52 s at sf0.1, checksum-identical.
# (Lazy functions, not module constants: F.col needs a live session.)
def _diff_both():
    return F.col("o").isNotNull() & F.col("n").isNotNull()


def _diff_status_ne():
    return F.col("o.o_orderstatus") != F.col("n.o_orderstatus")


def _diff_price_ne():
    return F.col("o.o_totalprice") != F.col("n.o_totalprice")


def _diff_sides(spark, sf_dir):
    orders = load(spark, sf_dir, "orders", widen=False).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new_snap = (
        orders.filter(F.col("o_orderkey") % _DIFF_DELETE != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % _DIFF_CHANGE == 0,
                F.col("o_totalprice") + 1.0,
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % _DIFF_INSERT == 0).withColumn(
                "o_orderkey", -(F.col("o_orderkey") + 1)
            )
        )
    )
    return orders, new_snap


def _diff_aligned(old, new_snap):
    """Key-align two snapshots: one side-tagged union + keyed (sort)
    aggregate, equivalent to a full-outer join ONLY under the
    invariant that o_orderkey is UNIQUE and NON-NULL within each side.
    Duplicate keys would be silently collapsed by max() where a join
    would row-multiply; NULL keys would be grouped into one row where
    a full-outer join never matches NULLs.  _diff_sides guarantees the
    invariant today (orders' primary key; the new side is a
    residue-filtered copy plus strictly-negative insert keys) — any
    future edit to _diff_sides must preserve it or switch back to a
    real full-outer join."""
    side = F.struct("o_orderstatus", "o_totalprice")
    tagged = old.select(
        "o_orderkey", F.lit(0).alias("__side"), side.alias("__row")
    ).unionByName(
        new_snap.select(
            "o_orderkey", F.lit(1).alias("__side"), side.alias("__row")
        )
    )
    return tagged.groupBy("o_orderkey").agg(
        F.max(F.when(F.col("__side") == 0, F.col("__row"))).alias("o"),
        F.max(F.when(F.col("__side") == 1, F.col("__row"))).alias("n"),
    )


# ===========================================================================
# Snapshot patch apply (CDC apply: old + diff -> new, round-trip proven)
# ===========================================================================


@register(
    "snapshot_patch_apply",
    f"""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM ({_diff_new_sql()})
    """,
    survey_ids=("J3", "S11", "U3"),
    doc="CDC patch APPLICATION — the other half of snapshot_diff: from "
    "(old, new) a value-carrying patch is extracted (upsert rows with "
    "NEW values for added/changed keys, delete keys for removed "
    "rows), then applied to OLD alone: old MINUS touched keys UNION "
    "upserts.  The oracle is the new snapshot computed directly, so "
    "the exact value hash PROVES the round-trip identity "
    "apply(old, diff(old, new)) == new — the correctness contract "
    "every incremental sync and MERGE pipeline rests on, checked "
    "end-to-end rather than assumed.  Plan shape: a side-tagged "
    "union + keyed (sort) aggregate extracts the patch (the "
    "snapshot_diff alignment — output ∝ delta; the alignment subtree "
    "recomputes once per consumer — upserts, deletes, final union — "
    "by the same measured un-cached trade as snapshot_diff), then "
    "one left-anti + union applies it "
    "— keyed shuffles only; at 100 TB the patch is delta-sized and "
    "the apply is the partition-pruned upsert_by_key path.",
)
def q_snapshot_patch_apply(spark, sf_dir):
    # Un-cached for the same measured reason as q_snapshot_diff: the
    # pruned scan is cheaper to repeat than the cache is to build, and
    # a table-sized cache is the wrong 100 TB shape.  Patch extraction
    # shares snapshot_diff's union+aggregate alignment (same
    # equivalence argument, same measured win over the full-outer SMJ).
    orders, new_snap = _diff_sides(spark, sf_dir)
    aligned = _diff_aligned(orders, new_snap)
    changed = _diff_both() & (_diff_status_ne() | _diff_price_ne())
    # Value-carrying patch: upserts carry the NEW row; deletes carry
    # only the key.  Everything downstream uses ONLY old + patch.
    upserts = aligned.filter(F.col("o").isNull() | changed).select(
        "o_orderkey",
        F.col("n.o_orderstatus").alias("o_orderstatus"),
        F.col("n.o_totalprice").alias("o_totalprice"),
    )
    deletes = aligned.filter(F.col("n").isNull()).select("o_orderkey")
    touched = upserts.select("o_orderkey").unionByName(deletes)
    return orders.join(touched, "o_orderkey", "left_anti").unionByName(upserts)


# ===========================================================================
# Sequence packing (LLM concat-then-chunk) via distributed prefix sum
# ===========================================================================

_PACK_BUDGET = 2048  # tokens per pack
_PACK_SHARD = 128  # docs per prefix-sum shard


@register(
    "sequence_packing",
    f"""
    WITH toks AS (
        SELECT doc_id,
               (length(text) - length(replace(text, ' ', '')) + 1)::BIGINT
                   AS n_tokens
        FROM documents
    ), cum AS (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens
                   AS global_start
        FROM toks
    )
    SELECT doc_id, n_tokens, global_start,
           (global_start // {_PACK_BUDGET})::BIGINT AS pack_id
    FROM cum
    """,
    survey_ids=("W1", "A1"),
    doc="LLM sequence packing (concat-then-chunk): documents are laid "
    "end-to-end in doc_id order and cut into fixed token-budget packs "
    "— each doc's global token offset decides its pack.  The global "
    "running sum is a DISTRIBUTED PREFIX SUM, not a single-partition "
    "window: per-shard subtotals (tiny: one row per {_PACK_SHARD} "
    "docs) are cumulated and joined back, so each row's offset = "
    "shard offset + within-shard cumsum.  Two keyed shuffles on "
    "shard, no global sort of the corpus — the oracle's "
    "ORDER BY-everything window is exactly what does NOT scale.",
)
def q_sequence_packing(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    # toks feeds both the within-shard window and the shard totals.
    # Un-cached (round-13 A/B: cached 1.41 s vs 1.29 s without at
    # sf0.1, checksum-identical): recomputing two cheap length
    # projections streams from the pruned scan twice, while the cache
    # builds a corpus-rows InMemoryRelation first — the wrong trade at
    # any scale (guide §5: cache only when recompute beats the memory
    # pressure).
    toks = docs.select(
        "doc_id",
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            + 1
        )
        .cast("long")
        .alias("n_tokens"),
        F.expr(f"doc_id div {_PACK_SHARD}").alias("shard"),
    )
    # Within-shard running sum (shard-keyed window: bounded partitions).
    w_in = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    within = toks.withColumn("in_cum", F.sum("n_tokens").over(w_in))
    # Shard subtotals are one row per shard — cumulating THEM with a
    # global window is O(n_shards), then the offsets broadcast-join back.
    totals = toks.groupBy("shard").agg(F.sum("n_tokens").alias("shard_total"))
    # bounded-frame: one row per pack shard
    w_sh = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "shard", F.coalesce(F.sum("shard_total").over(w_sh), F.lit(0)).alias("shard_off")
    )
    return (
        within.join(F.broadcast(offsets), "shard")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("shard_off") + F.col("in_cum") - F.col("n_tokens")).alias(
                "global_start"
            ),
        )
        .withColumn(
            "pack_id", F.floor(F.col("global_start") / _PACK_BUDGET).cast("long")
        )
    )


# ===========================================================================
# Quantile binning (ntile feature bucketing)
# ===========================================================================


@register(
    "value_deciles",
    """
    WITH t AS (
        SELECT event_type, value, event_id,
               ntile(10) OVER (PARTITION BY event_type
                               ORDER BY value, event_id) AS decile
        FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, decile::BIGINT AS decile, count(*)::BIGINT AS n,
           min(value) AS min_v, max(value) AS max_v
    FROM t GROUP BY event_type, decile
    """,
    survey_ids=("W3", "A1"),
    doc="Quantile feature binning: ntile(10) per event type assigns "
    "equal-frequency deciles (ties broken by event_id so the binning "
    "is deterministic), then per-bin count/min/max — the cut-point "
    "table feature preprocessing needs.  One keyed sort-window plus "
    "an aggregation reusing the same partitioning; at scale the "
    "group key bounds the window partition, never the corpus.  Soak "
    "cost model: wall = per-GROUP sort depth (rows/|event_type|, one "
    "task per group) over a sub-second floor, so the 10x ratio sits "
    "well under 10 and jitters at the floor — 3-run median 1.7x for "
    "10x data (round-8 re-measure of the r7 one-shot 2.5x: noise, "
    "not growth).  A low-cardinality group key at real scale is the "
    "known ntile ceiling; the fix there is approx percentile cuts "
    "(value_histogram's equi-width twin) or range partitioning.",
)
def q_value_deciles(spark, sf_dir):
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    t = ev.withColumn("decile", F.ntile(10).over(w).cast("long"))
    return t.groupBy("event_type", "decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )


# ===========================================================================
# Leakage-safe dataset split (train/val/test by USER, not by row)
# ===========================================================================


@register(
    "dataset_split",
    f"""
    WITH assigned AS (
        SELECT user_id, event_type,
               CASE WHEN {md5_long_sql("'split:' || CAST(user_id AS VARCHAR)")} % 100 < 80
                    THEN 'train'
                    WHEN {md5_long_sql("'split:' || CAST(user_id AS VARCHAR)")} % 100 < 90
                    THEN 'val' ELSE 'test' END AS split
        FROM events
    )
    SELECT split, count(*)::BIGINT AS n_events,
           count(DISTINCT user_id)::BIGINT AS n_users
    FROM assigned GROUP BY split
    """,
    survey_ids=("A1", "G5"),
    doc="Deterministic train/val/test split keyed on the USER, not the "
    "row: every event of a user lands in the same split (the "
    "group-aware discipline that prevents leakage between train and "
    "eval), via an md5 hash threshold — RNG-free, so re-runs and "
    "retries assign identically, and adding data never reassigns "
    "existing users.  80/10/10; per-split event and user counts "
    "verify the assignment.",
)
def q_dataset_split(spark, sf_dir):
    from ..functions import md5_long as _md5

    ev = load(spark, sf_dir, "events")
    bucket = _md5(F.concat(F.lit("split:"), F.col("user_id").cast("string"))) % 100
    assigned = ev.select(
        "user_id",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias(
            "split"
        ),
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


# ===========================================================================
# Triangle counting / clustering coefficient (graph analytics #3)
# ===========================================================================


def degree_oriented_edges(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """Orient undirected ``(u, v)`` edges from the lower-DEGREE endpoint
    (ties broken by id): returns ``(src, dst, d_dst)`` with
    rank(src) < rank(dst) under rank = (degree, id).

    This is the orientation that makes a wedge join scale-safe: total
    wedge work becomes sum over vertices of outdeg^2 with outdeg
    bounded O(sqrt(m)) amortized (arboricity bound), instead of the
    id-ordered orientation's d(hub)^2 at the highest-degree vertex.
    ``d_dst`` (the destination's degree) is carried so the wedge join
    can rank-order neighbor pairs without a third degree join.

    ``deg`` must hold undirected degrees as ``(node, d)``.
    """
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    ranked = edges.join(du, "u").join(dv, "v")
    low_u = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return ranked.select(
        F.when(low_u, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(low_u, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(low_u, F.col("dv")).otherwise(F.col("du")).alias("d_dst"),
    )


# Bipartite-projection degree cap, DATA-DRIVEN (round-6 verdict item
# 5): a part with more than MARGIN x median(suppliers-per-part) is
# dropped before the co-supply pair join (it would emit k(k-1)/2
# edges).  Why the MEDIAN and not a tail quantile: the tail IS what
# the cap must bound, so sizing the cutoff from p99.9 is circular —
# one adversarial hyperedge-part drags p99.9 (and hence the cap) up
# to itself on a small graph and is never dropped; the median is the
# robust location estimate (unmoved by up to half the parts going
# hot), and 16x is the margin that says "an order of magnitude past
# typical co-supply is a hyperedge everyone shares — boilerplate in
# graph form, not signal".  The lower median ((n+1)//2-th smallest,
# INTEGER arithmetic — no float averaging, bit-exact across engines)
# is computed from the degree HISTOGRAM, so the only unpartitioned
# window runs over O(distinct degree values) rows.  TPC-H parts carry
# exactly 4 suppliers, so the derived cap is 16*4 = 64 — precisely
# the round-6 constant; gate values are unchanged, while a skewed
# graph now re-sizes the cap from its own degree profile (the
# graph_degree_profile audit made executable).  The oracle mirrors
# the derivation, so capped results stay hash-exact.
_TRI_CAP_MARGIN = 16


@register(
    "graph_triangle_stats",
    f"""
    WITH ps AS (
        SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ), degp AS (
        SELECT p, count(*)::BIGINT AS c FROM ps GROUP BY p
    ), hist AS (
        SELECT c, count(*)::BIGINT AS n FROM degp GROUP BY c
    ), tot AS (
        SELECT sum(n)::BIGINT AS t FROM hist
    ), cum AS (
        SELECT c, sum(n) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum
        FROM hist
    ), medv AS (
        SELECT min(c)::BIGINT AS med FROM cum, tot WHERE cum >= (t + 1) // 2
    ), capv AS (
        SELECT {_TRI_CAP_MARGIN} * med AS cap FROM medv
    ), psc AS (
        SELECT p, s FROM (
            SELECT p, s, count(*) OVER (PARTITION BY p) AS c FROM ps
        ) WHERE c <= (SELECT cap FROM capv)
    ), edges AS (
        SELECT DISTINCT a.s AS u, b.s AS v
        FROM psc a JOIN psc b ON a.p = b.p AND a.s < b.s
    ), deg AS (
        SELECT node, count(*)::BIGINT AS d
        FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
        GROUP BY node
    ), tri AS (
        SELECT count(*)::BIGINT AS t
        FROM edges e1
        JOIN edges e2 ON e1.v = e2.u
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT count(DISTINCT s) FROM ps)::BIGINT AS n_nodes,
           (SELECT count(*) FROM edges)::BIGINT AS n_edges,
           (SELECT sum((d * (d - 1)) // 2) FROM deg)::BIGINT AS n_wedges,
           (SELECT t FROM tri) AS n_triangles,
           (3.0::DOUBLE * (SELECT t FROM tri))
               / nullif((SELECT sum((d * (d - 1)) // 2) FROM deg), 0)
               AS clustering
    """,
    survey_ids=("J1", "A8"),
    doc="Triangle counting + global clustering coefficient over the "
    "supplier co-supply graph (suppliers adjacent iff they supply a "
    "common part).  The distributed algorithm is DEGREE-ordered "
    "compact-forward (Latapy; the MapReduce form popularized by Suri "
    "& Vassilvitskii's 'Counting Triangles and the Curse of the Last "
    "Reducer'): every edge is oriented from its lower-DEGREE endpoint "
    "(ties by id), and triangles through edge (u,v) = |out(u) ∩ "
    "out(v)| — counted via 64-bit bitmap words, no wedge-row join.  "
    "Why degree order and not id order: intersection work is "
    "sum(outdeg^2), and id-orientation leaves a hub's full degree on "
    "one vertex (d^2 blowup that AQE CANNOT split — it splits a "
    "partition's rows, not the pair emission), while degree-"
    "orientation provably bounds total work at O(m^1.5).  Measured at "
    "sf0.1 (the K1000 co-supply graph, 166M triangles): 19.2 s "
    "round-4 id-ordered wedge join -> 6.5 s.  Row volume collapses "
    "FIRST through DISTINCT (part,supplier): 100 TB of lineitem "
    "contributes only its vocabulary-sized projection.  The remaining "
    "quadratic term was the bipartite projection itself (a part with "
    "k suppliers emits k(k-1)/2 edges); round 6 enforced the cap and "
    "round 7 makes it DATA-DRIVEN: parts with more than "
    f"{_TRI_CAP_MARGIN} x the MEDIAN suppliers-per-part are dropped "
    "before the pair join (count-over-window on p — shares the "
    "join's partitioning, the lsh_candidate_pairs max_bucket "
    "pattern), mirrored in the oracle.  The cap derivation is the "
    "graph_degree_profile audit made executable: degree histogram -> "
    "lower median in integer arithmetic -> margin multiply, an "
    "O(distinct-degrees) computation (see the _TRI_CAP_MARGIN "
    "comment for why the median, not a tail quantile — the tail is "
    "the thing being bounded).  The gate tables' degrees are "
    "near-uniform (median 10-29, max <= 52 across SFs; spec TPC-H is "
    "exactly 4 per part), so the derived cap (160-464, or 64 on spec "
    "data) never binds and gate values match the uncapped round-5 "
    "numbers; a skewed graph re-sizes it automatically, and the "
    "hot-part injection test bounds the adversarial emission.  The "
    "oracle "
    "keeps the id-oriented wedge join: the triangle count is "
    "orientation-invariant, which the exact hash match proves.",
)
def q_graph_triangle_stats(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    ps = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    # Data-driven projection cap (see _TRI_CAP_MARGIN comment): degree
    # histogram -> lower median (integer (n+1) div 2, no float) ->
    # margin multiply.  The cumulative window runs over the HISTOGRAM
    # (O(distinct degree values) rows), never the part population.
    hist = (
        ps.groupBy("p")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cum = hist.withColumn(
        "cum",
        F.sum("n").over(
            # bounded-frame: one row per distinct histogram bin value
            Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    cap = (
        cum.crossJoin(hist.agg(F.sum("n").alias("t")))
        .filter(F.col("cum") >= F.expr("(t + 1) div 2"))
        .agg((F.lit(_TRI_CAP_MARGIN) * F.min("c")).alias("cap"))
    )
    # The count-over-window on p hash-partitions on the same key as
    # the pair join that follows, so the guard adds no extra shuffle;
    # the 1-row cap frame broadcasts into the filter.
    w_p = Window.partitionBy("p")
    psc = (
        ps.withColumn("__c", F.count(F.lit(1)).over(w_p))
        .crossJoin(F.broadcast(cap))
        .filter(F.col("__c") <= F.col("cap"))
        .drop("__c", "cap")
    )
    a, b = psc.alias("a"), psc.alias("b")
    # Shared subtrees (ps, edges, deg, oriented, adjw) are NOT cached:
    # every shared branch ends at an exchange, and AQE's exchange
    # reuse dedups identical shuffle stages at the stage-graph level —
    # properly serialized, unlike .cache(), whose lazy block
    # population RACES when independent branch stages of one job scan
    # the same un-materialized relation concurrently (each recomputes
    # the subtree; measured 18-77 s run-to-run variance on this query
    # cached vs a stable 6.5 s uncached).
    edges = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .select(F.col("a.s").alias("u"), F.col("b.s").alias("v"))
        .distinct()
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # Degree-ordered orientation: rank = (degree, id) lexicographic;
    # src is the LOWER-rank endpoint.
    oriented = degree_oriented_edges(edges, deg)
    # Compact-forward via BITMAP adjacency, not wedge rows: triangles
    # through oriented edge (u, v) = |out(u) ∩ out(v)|.  Out-neighbor
    # sets are packed into 64-bit words keyed by (vertex, dst div 64)
    # — the same word/bit encoding as bitmap_distinct_users — and the
    # intersection is bit_count(word_u AND word_v) summed over shared
    # word indexes.  Wedge work collapses 64-fold where neighbor ids
    # cluster (a word row carries up to 64 set bits), and degenerates
    # to at worst one row per wedge on scattered ids — never worse
    # than wedge-row enumeration, 6x faster on the sf0.1 K1000
    # co-supply graph (19.2 s round-4 wedge join, ~17 s per-edge
    # array_intersect, ~3 s bitmap form).
    adjw = oriented.groupBy("src", F.expr("shiftright(dst, 6)").alias("w")).agg(
        F.expr("bit_or(shiftleft(1L, cast(pmod(dst, 64) as int)))").alias("bits")
    )
    # Attach u's word rows to each edge (groupBy(src) leaves adjw
    # partitioned on the join key), then equi-join on (dst, w): only
    # word indexes BOTH endpoints touch survive into the popcount.
    ew = oriented.select("src", "dst").join(adjw, "src")
    adjv = adjw.select(
        F.col("src").alias("dst"), "w", F.col("bits").alias("bits_v")
    )
    tri = (
        ew.join(adjv, ["dst", "w"])
        .select(F.bit_count(F.col("bits").bitwiseAND(F.col("bits_v"))).alias("c"))
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("t"))
    )
    n_nodes = ps.select("s").distinct().agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    n_wedges = deg.agg(
        F.sum(F.expr("(d * (d - 1)) div 2")).alias("n_wedges")
    )
    return (
        n_nodes.crossJoin(n_edges)
        .crossJoin(n_wedges)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            F.col("t").alias("n_triangles"),
            F.try_divide(F.lit(3.0) * F.col("t"), F.col("n_wedges")).alias(
                "clustering"
            ),
        )
    )


# ===========================================================================
# Bipartite degree profile (graph-shape audit for the projection ops)
# ===========================================================================


@register(
    "graph_degree_profile",
    """
    WITH ps AS (
        SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
    ), d1 AS (
        SELECT 'suppliers_per_part' AS side, p AS id, count(*)::BIGINT AS deg
        FROM ps GROUP BY p
    ), d2 AS (
        SELECT 'parts_per_supplier' AS side, s AS id, count(*)::BIGINT AS deg
        FROM ps GROUP BY s
    ), u AS (
        SELECT side, deg FROM d1 UNION ALL SELECT side, deg FROM d2
    )
    SELECT side, deg, count(*)::BIGINT AS n_nodes
    FROM u GROUP BY side, deg
    """,
    survey_ids=("A1", "A3"),
    doc="Bipartite degree distribution of the part-supplier graph: how "
    "many parts have k suppliers, how many suppliers carry k parts.  "
    "The PRE-FLIGHT audit for every operator that projects or "
    "self-joins this graph (pagerank, triangles, co-supply edges): "
    "the projection emits k(k-1)/2 pairs per part, so the "
    "suppliers_per_part tail IS the quadratic risk, measured before "
    "committing to the join (the cap/threshold decision documented "
    "at graph_triangle_stats becomes data-driven).  Two keyed "
    "aggregations over the DISTINCT projection, then a tiny "
    "histogram aggregate — scales as the vocabulary.",
)
def q_graph_degree_profile(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    ps = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    d1 = ps.groupBy("p").agg(F.count(F.lit(1)).alias("deg")).select(
        F.lit("suppliers_per_part").alias("side"), "deg"
    )
    d2 = ps.groupBy("s").agg(F.count(F.lit(1)).alias("deg")).select(
        F.lit("parts_per_supplier").alias("side"), "deg"
    )
    return (
        d1.unionByName(d2)
        .groupBy("side", "deg")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


# ===========================================================================
# Inverted index build (search / retrieval primitive)
# ===========================================================================

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


# ===========================================================================
# Throttle dedup (time-horizon repeat suppression)
# ===========================================================================

_THROTTLE_US = 60_000_000  # 60 s


@register(
    "dedup_throttle",
    f"""
    WITH w AS (
        SELECT event_id, user_id, event_type, ts,
               lag(ts) OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id) AS prev_ts
        FROM events
    )
    SELECT event_id, user_id, event_type, ts
    FROM w
    WHERE prev_ts IS NULL
       OR epoch_us(ts) - epoch_us(prev_ts) >= {_THROTTLE_US}
    """,
    survey_ids=("A6", "W1"),
    doc="Time-horizon repeat suppression: drop an event when the SAME "
    "(user, type) fired within the last 60 s — the telemetry/dedup "
    "rule for chatty emitters.  Throttle semantics (gap measured to "
    "the previous RAW event) so it stays one keyed lag-window; true "
    "debounce (gap to the previous KEPT event) is inherently "
    "sequential per key and lives in the streaming layer "
    "(dropDuplicatesWithinWatermark) where state is per-key bounded.",
)
def q_dedup_throttle(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .filter(
            F.col("prev_ts").isNull()
            | (
                F.unix_micros("ts") - F.unix_micros("prev_ts")
                >= F.lit(_THROTTLE_US)
            )
        )
        .select("event_id", "user_id", "event_type", "ts")
    )


# ===========================================================================
# Stream-stream join in the gate (attribution shape)
# ===========================================================================


@register(
    "streaming_join_clicks",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 15 MINUTE
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
    survey_ids=("ST1", "J2"),
    doc="Watermarked stream-STREAM inner join replayed in the gate: "
    "purchases and clicks (two filtered views of one file-source "
    "stream) join on user within a 15-minute event-time range; the "
    "drained pairs must equal the batch interval-join oracle.  Both "
    "sides carry watermarks and the range bound lets Spark evict "
    "buffered rows once the watermark passes ts+15min — join state "
    "is rate x interval, never stream length, which is what makes "
    "attribution viable on an unbounded stream.",
)
def q_streaming_join_clicks(spark, sf_dir):
    from ..streaming.pipelines import (
        drain_to_memory,
        stream_events,
        stream_stream_join,
    )

    df = stream_events(spark, sf_dir)
    purchases = df.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = df.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("c_ts"),
    )
    joined = stream_stream_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="c_ts",
        watermark="1 hour", within="15 minutes",
    ).select("purchase_id", "click_id")
    return drain_to_memory(spark, joined, "sjoin", "append")


# ===========================================================================
# Interval union (gaps-and-islands): total covered time per user
# ===========================================================================

_COVER_MIN = 30  # each event opens a 30-minute activity interval


@register(
    "interval_union_time",
    f"""
    WITH iv AS (
        SELECT user_id, ts AS s, ts + INTERVAL {_COVER_MIN} MINUTE AS e,
               event_id
        FROM events
    ), flagged AS (
        SELECT user_id, s, e,
               CASE WHEN s > max(e) OVER (PARTITION BY user_id
                                          ORDER BY s, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING)
                         OR max(e) OVER (PARTITION BY user_id
                                         ORDER BY s, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) IS NULL
                    THEN 1 ELSE 0 END AS new_island,
               event_id
        FROM iv
    ), islands AS (
        SELECT user_id, s, e,
               sum(new_island) OVER (PARTITION BY user_id
                                     ORDER BY s, event_id
                                     ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged
    ), merged AS (
        SELECT user_id, island, min(s) AS island_start, max(e) AS island_end
        FROM islands GROUP BY user_id, island
    )
    SELECT user_id, count(*)::BIGINT AS n_islands,
           (sum(epoch_us(island_end) - epoch_us(island_start))
               // 60000000)::BIGINT AS covered_minutes
    FROM merged GROUP BY user_id
    """,
    survey_ids=("W1", "T7"),
    doc="Interval union (gaps-and-islands): each event opens a "
    f"{_COVER_MIN}-minute activity interval; overlapping intervals "
    "merge into islands and the total covered time per user is the "
    "sum of island lengths — the uptime/coverage computation that a "
    "naive approach solves with an interval self-join.  Here it is "
    "one keyed sort: an island starts where an interval's start "
    "exceeds the running max of prior ends, islands number by a "
    "running sum of those flags, and two keyed aggregations finish.  "
    "All windows share the (user_id) partitioning — one shuffle.",
)
def q_interval_union_time(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr(f"INTERVAL {_COVER_MIN} MINUTES")).alias("e"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn("prev_max_e", F.max("e").over(w_prev)).withColumn(
        "new_island",
        (
            F.col("prev_max_e").isNull() | (F.col("s") > F.col("prev_max_e"))
        ).cast("int"),
    )
    # Same (s, event_id) TOTAL order as the flag window: ordering the
    # running sum by the non-unique (s, e) would let a tied row land
    # before its own flag and join the previous island.
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(w_run))
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("island_start"), F.max("e").alias("island_end")
    )
    # Integer div: DuckDB's double->BIGINT cast ROUNDS while Spark's
    # truncates, so a float division here diverges on half-minutes.
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.expr(
            "sum(unix_micros(island_end) - unix_micros(island_start)) div 60000000"
        ).alias("covered_minutes"),
    )


# ===========================================================================
# Document chunking with overlap (RAG / pretraining prep)
# ===========================================================================

_CHUNK_LEN = 256  # chars per chunk
_CHUNK_STRIDE = 192  # stride < len => 64-char overlap


@register(
    "doc_chunking",
    f"""
    WITH spans AS (
        SELECT doc_id, n_chars,
               unnest(range(0, greatest(n_chars - {_CHUNK_LEN} + {_CHUNK_STRIDE},
                                        1)::BIGINT, {_CHUNK_STRIDE})) AS off
        FROM (SELECT doc_id, length(text) AS n_chars FROM documents)
    )
    SELECT s.doc_id, (s.off // {_CHUNK_STRIDE})::BIGINT AS chunk_idx,
           substr(d.text, (s.off + 1)::INTEGER, {_CHUNK_LEN}) AS chunk,
           length(substr(d.text, (s.off + 1)::INTEGER, {_CHUNK_LEN}))::BIGINT
               AS chunk_len
    FROM spans s JOIN documents d ON s.doc_id = d.doc_id
    """,
    survey_ids=("T4", "G2"),
    doc=f"Overlapping document chunking ({_CHUNK_LEN}-char windows, "
    f"{_CHUNK_STRIDE}-char stride = {_CHUNK_LEN - _CHUNK_STRIDE} chars "
    "of overlap): the RAG/pretraining prep step that turns long "
    "documents into model-sized passages without losing sentences at "
    "the boundaries.  Pure per-row explode(sequence) + substring — no "
    "shuffle at all; chunk count scales with document length over "
    "stride, never with corpus size, and the explode is the same "
    "bounded-sequence pattern as the electricity minute grid (T4).  "
    "Every document yields at least one chunk (empty docs included), "
    "so the chunker is total — no silent drops.",
)
def q_doc_chunking(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    spans = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.length("text") - F.lit(_CHUNK_LEN) + F.lit(_CHUNK_STRIDE) - 1,
                    F.lit(0),
                ),
                F.lit(_CHUNK_STRIDE),
            )
        ).alias("off"),
    )
    return spans.select(
        "doc_id",
        F.expr(f"off div {_CHUNK_STRIDE}").alias("chunk_idx"),
        F.expr(f"substring(text, off + 1, {_CHUNK_LEN})").alias("chunk"),
        F.length(F.expr(f"substring(text, off + 1, {_CHUNK_LEN})"))
        .cast("long")
        .alias("chunk_len"),
    )


# ===========================================================================
# Mixture rebalancing (sample sources toward target proportions)
# ===========================================================================

# Target mixture: cap every source at the share of the SMALLEST
# source (uniform mixture), the common pretraining rebalance.  The
# acceptance rate per source derives from observed counts, and the
# per-row accept decision is an md5 threshold — deterministic,
# append-stable, engine-portable.


@register(
    "source_rebalance",
    f"""
    WITH counts AS (
        SELECT source, count(*)::BIGINT AS n FROM documents GROUP BY source
    ), target AS (
        SELECT min(n) AS per_source FROM counts
    ), decided AS (
        SELECT d.source,
               ({md5_long_sql("'mix:' || CAST(d.doc_id AS VARCHAR)")} % 1000000
                < (t.per_source * 1000000) // c.n) AS keep
        FROM documents d
        JOIN counts c ON d.source = c.source
        CROSS JOIN target t
    )
    SELECT source, count(*)::BIGINT AS n_total,
           sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept
    FROM decided GROUP BY source
    """,
    survey_ids=("A1", "G5"),
    doc="Mixture rebalancing: sample each source down toward the "
    "smallest source's share (uniform target mixture) — the "
    "pretraining-mix control knob.  Acceptance rate per source = "
    "target/observed in exact integer arithmetic (parts-per-million "
    "threshold); the per-row decision hashes the doc id, so the "
    "sample is deterministic, append-stable, and identical across "
    "engines and retries.  Plan: one tiny counts aggregate broadcast "
    "back to the corpus — the corpus itself never shuffles.  "
    "(Output is the per-source kept/total audit; the kept ROWS are "
    "the same frame without the final aggregate.)",
)
def q_source_rebalance(spark, sf_dir):
    from ..caching import track_cache
    from ..functions import md5_long

    docs = load(spark, sf_dir, "documents")
    counts = track_cache(
        docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    )
    target = counts.agg(F.min("n").alias("per_source"))
    decided = (
        docs.join(F.broadcast(counts), "source")
        .crossJoin(F.broadcast(target))
        .select(
            "source",
            (
                md5_long(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
                % 1_000_000
                < F.expr("(per_source * 1000000) div n")
            ).alias("keep"),
        )
    )
    return decided.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
    )


# ===========================================================================
# Rolling EXACT distinct via bitmap merge (windowable COUNT DISTINCT)
# ===========================================================================


@register(
    "bitmap_rolling_users_7d",
    """
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    pairs AS (SELECT DISTINCT CAST(ts AS DATE) AS ed, user_id FROM events)
    SELECT days.day, count(DISTINCT user_id)::BIGINT AS n_users_7d
    FROM days JOIN pairs
      ON datediff('day', pairs.ed, days.day) BETWEEN 0 AND 6
    GROUP BY days.day
    """,
    survey_ids=("A3", "W3"),
    doc="Rolling 7-day EXACT distinct users per day via bitmap merge: "
    "daily (word, bits) bitmaps -> dense day x word grid -> per-word "
    "trailing-range bit_or window -> per-day popcount sum.  The "
    "companion to hll_rolling_users_7d with the same decomposition "
    "trick (bit_or, like register max, IS window-mergeable even "
    "though COUNT DISTINCT is not) but zero error, applicable when "
    "ids are dense integers: the window slides over "
    "|id-domain|/64-word state per day instead of re-touching every "
    "event 7x, and the oracle is the plain rolling COUNT(DISTINCT) "
    "it must equal.",
)
def q_bitmap_rolling_users_7d(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    # Un-cached (round-13 A/B: cached 0.78 s vs 0.65 s without at
    # sf0.1, checksum-identical): the three consumers (daily bitmaps,
    # day domain, word domain) re-derive three cheap projections from
    # the pruned scan; an events-sized cache only added build cost and
    # memory pressure (guide §5).
    base = ev.select(
        F.to_date("ts").alias("day"),
        F.expr("shiftright(user_id, 6)").alias("word"),
        F.expr("shiftleft(1L, cast(pmod(user_id, 64) as int))").alias("bit"),
    )
    daily = base.groupBy("day", "word").agg(F.expr("bit_or(bit)").alias("bits"))
    days = base.select("day").distinct()
    words = base.select("word").distinct()
    # Dense grid: a word silent on day d must still carry its trailing
    # bits into d's window (same shape as the HLL register grid).
    grid = days.crossJoin(F.broadcast(words))
    joined = grid.join(daily, ["day", "word"], "left")
    w = (
        Window.partitionBy("word")
        .orderBy(F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")))
        .rangeBetween(-6, 0)
    )
    rolled = joined.withColumn("bits7", F.expr("bit_or(bits)").over(w))
    return rolled.groupBy("day").agg(
        F.sum(F.coalesce(F.bit_count("bits7"), F.lit(0)))
        .cast("long")
        .alias("n_users_7d")
    )


# ===========================================================================
# Document novelty (corpus-diversity contribution scoring)
# ===========================================================================


@register(
    "doc_novelty",
    r"""
    WITH n AS (
      SELECT doc_id, regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             CASE WHEN length(t) >= 5
                  THEN list_distinct(list_transform(range(1, length(t) - 3),
                                                    i -> substr(t, i::INT, 5)))
                  ELSE [t] END AS sh
      FROM n
    ),
    pairs AS (SELECT doc_id, unnest(sh) AS g FROM s),
    df AS (SELECT g, count(*)::BIGINT AS df FROM pairs GROUP BY g)
    SELECT p.doc_id,
           count(*)::BIGINT AS n_shingles,
           sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_unique,
           (sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END)::BIGINT
                / count(*)::BIGINT) AS novelty
    FROM pairs p JOIN df ON p.g = df.g
    GROUP BY p.doc_id
    """,
    survey_ids=("A7", "A1"),
    doc="Document novelty scoring: the fraction of a doc's distinct "
    "5-gram shingles that appear NOWHERE else in the corpus — the "
    "diversity-contribution metric curation uses to keep the long "
    "tail that dedup thresholds would miss (novelty ~0 means the doc "
    "is assembled from boilerplate even if no single document "
    "near-matches it).  Shingles dedupe inside the row, then are "
    "HASHED to xxhash64 longs before anything shuffles (round-4 "
    "advice): the shingle string is never needed downstream — only "
    "its document frequency — so the df aggregate and the join back "
    "key on fixed-width longs.  Measured honestly (A/B at sf0.1, "
    "fresh plans): wall 3.97 s -> 3.79 s (~5%, from long-vs-string "
    "hashing and comparison in two aggregates and a join), while "
    "COMPRESSED shuffle bytes are a wash (87 KB -> 90 KB — lz4 "
    "squeezes redundant 5-char shingles to about the size of an "
    "incompressible hash; the advice's several-fold byte cut "
    "materializes only for LONGER grams, where the string arm grows "
    "and the hash arm stays 8 bytes).  A 64-bit collision would "
    "merge two shingles' counts — at 2^30 distinct shingles the "
    "collision odds are ~2^-5 per corpus, the standard trade for "
    "hashed shuffle keys (the same one MinHash makes); the exact-"
    "hash parity gate proves no collision at gate scales.  Two keyed "
    "shuffles regardless of corpus size.  The ratio divides two "
    "exact BIGINTs, so the double is bit-identical across engines.",
)
def q_doc_novelty(spark, sf_dir):
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ").alias("__t"),
    )
    t = F.col("__t")
    sh = F.when(
        F.length(t) >= 5,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(t) - 4),
                lambda i: t.substr(i, F.lit(5)),
            )
        ),
    ).otherwise(F.array(t))
    pairs = d.select("doc_id", F.explode(sh).alias("__g")).select(
        "doc_id", F.xxhash64("__g").alias("g")
    )
    df_counts = pairs.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    return (
        pairs.join(df_counts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_unique",
            (F.col("n_unique") / F.col("n_shingles")).alias("novelty"),
        )
    )


# ===========================================================================
# Equi-width histogram (profiling primitive)
# ===========================================================================

_HIST_BINS = 20


@register(
    "value_histogram",
    f"""
    WITH ext AS (
        SELECT event_type, min(value) AS lo, max(value) AS hi
        FROM events WHERE value IS NOT NULL GROUP BY event_type
    )
    SELECT e.event_type,
           least(floor(((e.value - x.lo) * {_HIST_BINS}.0) / (x.hi - x.lo)),
                 {_HIST_BINS - 1}.0)::BIGINT AS bin,
           count(*)::BIGINT AS n
    FROM events e JOIN ext x ON e.event_type = x.event_type
    WHERE e.value IS NOT NULL AND x.hi > x.lo
    GROUP BY 1, 2
    """,
    survey_ids=("A1", "A8"),
    doc=f"Equi-width histogram ({_HIST_BINS} bins per event type): the "
    "two-pass profiling primitive — a tiny per-group min/max "
    "aggregate broadcasts back and every row bins itself with pure "
    "IEEE arithmetic (identical across engines; the max value clamps "
    "into the last bin).  Complements the equi-DEPTH value_deciles: "
    "deciles need a per-group sort, histograms only the broadcast "
    "and one keyed count — the cheap first look at a distribution "
    "at 100 TB.  Degenerate groups (hi == lo) are excluded rather "
    "than divided by zero.",
)
def q_value_histogram(spark, sf_dir):
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    ext = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    joined = ev.join(F.broadcast(ext), "event_type").filter(F.col("hi") > F.col("lo"))
    bin_col = F.least(
        F.floor(((F.col("value") - F.col("lo")) * F.lit(float(_HIST_BINS))) / (F.col("hi") - F.col("lo"))),
        F.lit(float(_HIST_BINS - 1)),
    ).cast("long")
    return joined.groupBy("event_type", bin_col.alias("bin")).agg(
        F.count(F.lit(1)).alias("n")
    )


# ===========================================================================
# End-to-end pretraining prep (quality gate -> dedup -> chunk -> split)
# ===========================================================================


@register(
    "pretraining_prep",
    f"""
    WITH gated AS (
        SELECT doc_id, text FROM documents
        WHERE lang = 'en' AND length(text) >= 64
    ), keeper AS (
        SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)
    ), survivors AS (
        SELECT g.doc_id, g.text FROM gated g JOIN keeper k ON g.doc_id = k.doc_id
    ), chunks AS (
        SELECT s.doc_id,
               length(substr(s.text, (off + 1)::INTEGER, {_CHUNK_LEN}))::BIGINT
                   AS chunk_len
        FROM survivors s,
             unnest(range(0, greatest(length(s.text) - {_CHUNK_LEN}
                                      + {_CHUNK_STRIDE}, 1)::BIGINT,
                          {_CHUNK_STRIDE})) AS t(off)
    ), assigned AS (
        SELECT doc_id, chunk_len,
               CASE WHEN {md5_long_sql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 80
                    THEN 'train'
                    WHEN {md5_long_sql("'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 90
                    THEN 'val' ELSE 'test' END AS split
        FROM chunks
    )
    SELECT split, count(DISTINCT doc_id)::BIGINT AS n_docs,
           count(*)::BIGINT AS n_chunks,
           sum(chunk_len)::BIGINT AS sum_chunk_chars
    FROM assigned GROUP BY split
    """,
    survey_ids=("A6", "A7", "T4", "A1"),
    doc="The end-to-end pretraining-prep pipeline as ONE lazy plan: "
    "quality gate (language + length) -> exact dedup (min doc per "
    "text hash) -> overlapping chunking -> doc-keyed train/val/test "
    "split -> per-split audit counts.  Composition is the point: "
    "each stage is an operator the catalog verifies in isolation "
    "(doc_quality, exact_dedup, doc_chunking, dataset_split), and "
    "chaining them stays a single Catalyst plan — the gate's filter "
    "pushes below the dedup aggregate, the chunk explode runs on "
    "survivors only, and the split needs no shuffle at all.  Two "
    "keyed shuffles end to end (dedup hash, final audit), however "
    "long the pipeline reads.",
)
def q_pretraining_prep(spark, sf_dir):
    from ..functions import md5_long

    docs = load(spark, sf_dir, "documents")
    gated = docs.filter(
        (F.col("lang") == "en") & (F.length("text") >= 64)
    ).select("doc_id", "text")
    keeper = gated.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    survivors = gated.join(keeper.select("doc_id"), "doc_id")
    chunks = survivors.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.length("text") - F.lit(_CHUNK_LEN) + F.lit(_CHUNK_STRIDE) - 1,
                    F.lit(0),
                ),
                F.lit(_CHUNK_STRIDE),
            )
        ).alias("off"),
        "text",
    ).select(
        "doc_id",
        F.length(F.expr(f"substring(text, off + 1, {_CHUNK_LEN})"))
        .cast("long")
        .alias("chunk_len"),
    )
    bucket = md5_long(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    assigned = chunks.select(
        "doc_id",
        "chunk_len",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias(
            "split"
        ),
    )
    return assigned.groupBy("split").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("chunk_len").alias("sum_chunk_chars"),
    )


# ===========================================================================
# Table profiling (per-column statistics in one pass)
# ===========================================================================


@register(
    "table_profile_orders",
    """
    SELECT 'o_orderkey' AS col, count(*)::BIGINT AS n,
           sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
           count(DISTINCT o_orderkey)::BIGINT AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_v,
           CAST(max(o_orderkey) AS VARCHAR) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*)::BIGINT,
           sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT,
           count(DISTINCT o_orderstatus)::BIGINT,
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*)::BIGINT,
           sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)::BIGINT,
           count(DISTINCT o_orderpriority)::BIGINT,
           min(o_orderpriority), max(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*)::BIGINT,
           sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
           count(DISTINCT o_custkey)::BIGINT,
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    """,
    survey_ids=("A8", "A9"),
    doc="Table profiling (the describe()/summary() primitive with "
    "EXACT statistics): per column — row count, null count, distinct "
    "count, min, max — computed in ONE scan via a multi-aggregate "
    "projection that unpivots to a row per column (the SQL oracle's "
    "UNION ALL re-scans per column; Catalyst computes all aggregates "
    "in a single pass, which is the point at 100 TB).  min/max of "
    "strings compare binary in both engines (safe on ASCII; "
    "collation-sensitive data needs an explicit collation key).  "
    "Distinct counts are exact (the expensive honest version — the "
    "approx_count_distinct profile is a one-word swap).",
)
def q_table_profile_orders(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderstatus", "o_orderpriority", "o_custkey"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__null"),
            F.countDistinct(c).alias(f"{c}__nd"),
            # min/max in the column's NATIVE order, cast after — a
            # string-cast before the aggregate would order "999" above
            # "1499".
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    wide = orders.agg(*aggs)
    # Unpivot the single wide row into one row per column.
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__null, {c}__nd, {c}__min, {c}__max" for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS (col, n, n_null, n_distinct, min_v, max_v)"
        )
    )


# ===========================================================================
# Incremental aggregate maintenance in the gate (3-batch replay)
# ===========================================================================


@register(
    "incremental_agg_events",
    """
    SELECT user_id, count(*)::BIGINT AS n,
           sum(floor(value * 1e4)::BIGINT)::BIGINT AS sum_v,
           min(floor(value * 1e4)::BIGINT) AS min_v,
           max(floor(value * 1e4)::BIGINT) AS max_v
    FROM events WHERE value IS NOT NULL
    GROUP BY user_id
    """,
    survey_ids=("A1", "S11"),
    doc="Incremental view maintenance for DECOMPOSABLE aggregates: the "
    "events table replays as three batches (event_id residue "
    "classes) folded through operators/incremental.incremental_agg — "
    "each refresh collapses the batch to per-key partial states and "
    "merges them with the stored state by the aggregates' combine "
    "functions (the associativity map-side combine relies on, "
    "applied across TIME instead of across partitions).  The final "
    "state must equal the one-shot GROUP BY oracle.  Values are "
    "floor-quantized to integers BEFORE summing: integer addition "
    "is order-insensitive, so the replayed sum is bit-equal however "
    "the batches split; refresh cost is |keys| + |batch| regardless "
    "of history depth — the warehouse-rollup maintenance pattern at "
    "100 TB, where recomputing the full history per day is the cost "
    "ceiling being avoided.",
)
def q_incremental_agg_events(spark, sf_dir):
    from ..operators.incremental import incremental_agg
    from ..session import scratch_dir

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.floor(F.col("value") * F.lit(1e4)).cast("long").alias("qv"),
        )
    )
    # State lives in process-lifetime scratch so the returned frame is a
    # plain parquet read of the final state — nothing is collected to
    # the driver (round-5 verdict item 4).
    state = f"{scratch_dir('inc_agg')}/agg_state"
    out = None
    for r in range(3):
        batch = ev.filter(F.col("event_id") % 3 == r)
        out = incremental_agg(spark, batch, state, keys=["user_id"], value_col="qv")
    return out.select(
        "user_id",
        F.col("n").cast("long").alias("n"),
        F.col("sum_v").cast("long").alias("sum_v"),
        "min_v",
        "max_v",
    )


# ===========================================================================
# Incremental top-k maintenance in the gate (3-batch replay)
# ===========================================================================

_ITK_K = 50


@register(
    "incremental_topk_events",
    f"""
    SELECT event_id, user_id, value
    FROM events WHERE value IS NOT NULL
    ORDER BY value DESC, event_id
    LIMIT {_ITK_K}
    """,
    survey_ids=("O5", "S11"),
    doc="Incremental view maintenance in the gate: the events table "
    "replays as THREE batches (event_id residue classes) folded "
    "through operators/incremental.incremental_topk — previous top-k "
    "state merges with each batch and re-ranks, never re-reading "
    "history.  The drained state must equal the one-shot global "
    "top-k oracle, which is the monotonicity theorem the operator "
    "rests on (top-k(hist ∪ batch) == top-k(top-k(hist) ∪ batch)); "
    "refresh cost is k + |batch| however long the history.  Values "
    "pass through unchanged (no arithmetic), and the (value DESC, "
    "event_id) order is total, so state and oracle are bit-equal.",
)
def q_incremental_topk_events(spark, sf_dir):
    from ..operators.incremental import incremental_topk
    from ..session import scratch_dir

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "user_id", "value")
    )
    # Process-lifetime scratch keeps the final state readable after this
    # function returns, so the result is the state read itself — no
    # driver-side collect (round-5 verdict item 4).
    state = f"{scratch_dir('inc_topk')}/topk_state"
    out = None
    for r in range(3):
        batch = ev.filter(F.col("event_id") % 3 == r)
        out = incremental_topk(
            spark, batch, state, order_col="value", k=_ITK_K,
            tiebreak_cols=["event_id"],
        )
    return out


# ===========================================================================
# snm_near_dup's sf10 bounded-slice twin (see catalog.py's slice twins)
# ===========================================================================

_SNM_SLICE_MOD = 8


@register(
    "snm_near_dup_blockslice",
    _snm_oracle(slice_mod=_SNM_SLICE_MOD),
    survey_ids=(),
    doc="snm_near_dup's sf10 value-check twin: the identical sorted-"
    "neighborhood chain over the ~1/8 of coarse BLOCKS whose "
    "md5(block-key) % 8 == 0.  Blocks (6-char sort-key prefixes) are "
    "the partition key of every window in the chain — run cap, "
    "neighbor leads — so whole-block slicing is exact: every kept "
    "block's pairs are bit-identical to the full run's.  The oracle "
    "filters blocks BEFORE its pair CTEs, cutting the intermediate "
    "the 100x-verbatim sf10 corpus used to OOM (24 GB cap) by the "
    "slice factor.  The block hash is the portable md5_long pair, so "
    "both engines select the same blocks.",
)
def q_snm_near_dup_blockslice(spark, sf_dir):
    return snm_near_dup_frame(
        load(spark, sf_dir, "documents"), slice_mod=_SNM_SLICE_MOD
    )
