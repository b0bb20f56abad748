"""Soak harness: replicate the driver tables Nx with key-shifted
copies, run a query list at base scale and at soak scale, and report
the wall-time scaling exponent per query.

The point is the SHAPE, not the absolute numbers: a query whose cost
is linear in rows should scale ~Nx on Nx data (executors divide linear
work); keyed-window and sketch queries should scale sub-linearly; any
super-linear term (candidate-pair blowups, accidental cross products)
shows up as ratio >> N and fails the run.

Replication scheme (key-shifted => disjoint key spaces => honest
linear growth; text copied verbatim => Nx duplicate density to stress
the dedup/novelty paths exactly where they are weakest):

- events: event_id += k*10^12, user_id += k*10^7, ts unchanged
  (denser hours — stresses grids/windows harder than shifting time).
- documents: doc_id += k*10^9, text/source verbatim.
- lineitem: l_orderkey += k*10^12, l_partkey += k*10^9,
  l_suppkey += k*10^7 (disjoint graph replicas).
- orders: o_orderkey += k*10^12, o_custkey += k*10^7.

Usage:
    python tools/soak.py [N] [base_sf_dir] [query ...]
Defaults: N=10, base=/root/testdata/sf0.1, the round-4 query set.
Prints one JSON line per query plus a summary line; exits 1 if any
query's soak/base wall ratio exceeds 2*N (super-linear red flag) OR
its output row count collapses below 10% of base (a query whose
result vanishes at scale is broken even if it got faster — round 5's
lexical_cosine_pairs went 4,642 -> 0 rows and the time-only guard
printed a green ratio 1.0).  Queries listed in _COLLAPSE_DOCUMENTED
own the collapse in their docstring; they get an explicit
OUTPUT_COLLAPSE (documented) marker instead of a failure.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tomasz_weight_tracker_spark.caching import release_caches
from tomasz_weight_tracker_spark.plans import REGISTRY
from tomasz_weight_tracker_spark.plans.catalog import load
from tomasz_weight_tracker_spark.session import get_spark

DEFAULT_QUERIES = [
    "scd2_user_state",
    "dedup_throttle",
    "interval_union_time",
    "bitmap_distinct_users",
    "bitmap_rolling_users_7d",
    "value_deciles",
    "value_histogram",
    "dataset_split",
    "sequence_packing",
    "snapshot_diff",
    "snm_near_dup",
    "doc_novelty",
    "doc_chunking",
    "source_rebalance",
    "inverted_index",
    "pretraining_prep",
    "pagerank_part_supplier",
    "graph_triangle_stats",
    "heavy_hitters",
    "incremental_topk_events",
    # round-5 families
    "graph_degree_profile",
    "bm25_search",
    "weighted_sample_events",
    "interval_bucket_join",
    "lexical_cosine_pairs",
    "fuzzy_name_match",
    "dup_clusters",
    "incremental_agg_events",
    "join_key_skew_profile",
    "referential_integrity_audit",
    "snapshot_patch_apply",
    "embed_dup_clusters",
    "streaming_upsert_state",
    # round-6 families
    "skew_join_events",
    "span_dedup_rebuild",
    "bucketed_join_orders",
    "partition_pruned_scan",
    # round-7 families
    "bpe_vocab_train",
    "sensor_merge_fold",
    "ngram_lm_score",
    "perceptron_quality_train",
    "dsir_importance_weights",
    "bloom_semijoin_prune",
    "token_budget_mix",
    "token_budget_mix_apply",
    "lsh_recall_audit",
    "streaming_lm_filter",
    "perceptron_quality_apply",
    "lm_score_calibrated",
    # round-8 families
    "lsh_dup_star_edges",
    "perceptron_sparse_train",
    "media_phash_near_dup",
    "incremental_lsh_dedup",
    "curation_end_to_end",
    "embed_pq_train",
    "embed_pq_topk",
    # round-8b/8c families (promoted from the r8 ad-hoc batch)
    "dup_passage_spans",
    "dup_passage_rebuild",
    "eval_decontam_spans",
    "term_proximity_search",
    "pq_recall_audit",
    "bpe_corpus_tokens",
    "embed_ivfadc_topk",
    "training_shard_write",
    "incremental_shard_manifest",
    "decile_cut_values",
    "incremental_lsh_assign",
    "semantic_dedup",
    "corpus_shuffle_shards",
    "ivfadc_recall_audit",
    "source_leakage_matrix",
    "tokenizer_fertility_by_lang",
    "gopher_quality_rules",
    # round-9 families
    "dup_passage_maximal",
    "streaming_lsh_assign",
    "ivfadc_autotune",
    "lsh_band_autotune",
    "order_quartiles",
    "doc_edit_distance_pairs",
    "source_temperature_mix",
    "gopher_rule_attribution",
    # round-10 families
    "url_canonical_dedup",
    "url_domain_profile",
    "dup_passage_rebuild_maximal",
    "html_table_extract",
    "report_render_lines",
    "inferred_csv_roundtrip",
    "streaming_url_dedup",
    # round-10b families
    "line_dedup_scrub",
    "dup_cluster_keep_best",
    "bitext_mine_margin",
    "jsonl_roundtrip",
    "streaming_line_dedup",
]

_SHIFTS = {
    "events": {"event_id": 10**12, "user_id": 10**7},
    "documents": {"doc_id": 10**9},
    "lineitem": {"l_orderkey": 10**12, "l_partkey": 10**9, "l_suppkey": 10**7},
    "orders": {"o_orderkey": 10**12, "o_custkey": 10**7},
}
_COPY_TABLES = ("customer", "supplier", "part", "nation", "region", "embeddings")

# Queries whose OUTPUT is documented to shrink on the verbatim-duplicated
# soak corpus (the docstring must own the mechanism).  lexical_cosine_pairs:
# rare-feature posting lists — at 10x verbatim duplication every feature's
# document frequency exceeds the df cap, so pair discovery intentionally
# yields to exact dedup, which runs first in the curation ordering
# (plans/similarity_ann.py lexical_cosine docstring).  These carry an explicit
# OUTPUT_COLLAPSE (documented) marker in the soak report instead of
# failing the run; any OTHER query collapsing is a red flag.
_COLLAPSE_DOCUMENTED = {"lexical_cosine_pairs"}


def build_soak(spark, base: str, out: str, n: int) -> None:
    os.makedirs(out, exist_ok=True)
    for table, shifts in _SHIFTS.items():
        df = load(spark, base, table, widen=False)
        parts = []
        for k in range(n):
            rep = df
            for col, step in shifts.items():
                rep = rep.withColumn(col, F.col(col) + F.lit(k * step))
            parts.append(rep)
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        if table == "documents":
            # Single FILE named documents.parquet, matching the driver
            # corpus layout: doc_provenance's oracle states the source
            # basename from that layout, so a directory-of-part-files
            # replica made the sf10 row a corpus-shape artifact
            # (PARITY_r10_sf10).  500k docs is a one-task write.
            # SMALL row groups are load-bearing: both engines
            # parallelize parquet scans by row group, and coalesce(1)
            # under the default 128 MB block size wrote ONE group —
            # which made every documents scan single-threaded at sf10
            # (measured: boilerplate_ngrams' oracle 45 s -> stuck >15
            # min before this option).
            tmp = f"{out}/__documents_tmp"
            union.coalesce(1).write.option(
                "parquet.block.size", str(4 * 1024 * 1024)
            ).mode("overwrite").parquet(tmp)
            part = glob.glob(f"{tmp}/part-*.parquet")[0]
            dst = f"{out}/documents.parquet"
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            elif os.path.exists(dst):
                os.remove(dst)
            shutil.move(part, dst)
            shutil.rmtree(tmp)
        else:
            union.write.mode("overwrite").parquet(f"{out}/{table}.parquet")
    for table in _COPY_TABLES:
        src = f"{base}/{table}.parquet"
        dst = f"{out}/{table}.parquet"
        if os.path.isdir(src):
            shutil.copytree(src, dst, dirs_exist_ok=True)
        else:
            shutil.copy(src, dst)


def materialize(df) -> int:
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("h"),
    ).collect()[0]
    return row.n


def timed(spark, name: str, sf_dir: str) -> tuple[float, int]:
    # One untimed warm pass (plan compilation + codegen), then the
    # timed execution on a cleared storage cache — the same marginal-
    # cost discipline as bench.py, so base and soak compare fairly.
    # The timer starts BEFORE build(): queries that execute eagerly
    # inside build (incremental_topk_events' multi-batch fold, the
    # streaming drains) do their real work there, and excluding it
    # made the super-linear guard blind to them (round-4 advice).
    df = REGISTRY[name].build(spark, sf_dir)
    materialize(df)
    release_caches()
    spark.catalog.clearCache()
    t0 = time.time()
    df = REGISTRY[name].build(spark, sf_dir)
    n = materialize(df)
    wall = time.time() - t0
    release_caches()
    spark.catalog.clearCache()
    return wall, n


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    base = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    queries = sys.argv[3:] or DEFAULT_QUERIES
    out = f"/tmp/soak_{n}x_{os.path.basename(base.rstrip('/'))}"
    spark = get_spark("soak")
    print(f"# building {n}x replica at {out}", file=sys.stderr)
    build_soak(spark, base, out, n)
    red_flags = []
    results = {}
    for name in queries:
        base_wall, base_rows = timed(spark, name, base)
        soak_wall, soak_rows = timed(spark, name, out)
        ratio = soak_wall / base_wall if base_wall > 0 else float("inf")
        results[name] = {
            "base_s": round(base_wall, 2),
            "soak_s": round(soak_wall, 2),
            "ratio": round(ratio, 1),
            "base_rows": base_rows,
            "soak_rows": soak_rows,
        }
        # Output-collapse guard: more data must not silently produce
        # (almost) no result.  10% of base is deliberately loose — soak
        # replication changes densities, so legitimate outputs can
        # shrink somewhat, but a collapse toward zero is a defect.
        if base_rows > 0 and soak_rows < 0.1 * base_rows:
            if name in _COLLAPSE_DOCUMENTED:
                results[name]["output_collapse"] = "OUTPUT_COLLAPSE (documented)"
            else:
                results[name]["output_collapse"] = "OUTPUT_COLLAPSE"
                red_flags.append(f"{name}:output_collapse")
        # Self-describing rows (round-7 verdict item 5): every line
        # carries its base corpus and replication factor, so soak
        # records from different bases can never be misread as one
        # series, and appended re-runs are identifiable.
        print(json.dumps({
            "query": name,
            "base": os.path.basename(base.rstrip("/")),
            "n": n,
            **results[name],
        }))
        # Output-normalized super-linear guard: a pair-enumeration
        # query on the VERBATIM-duplicated soak corpus legitimately
        # emits quadratically more rows (10x duplicate density =>
        # ~100x true near-dup pairs — incremental_lsh_dedup measured
        # 100.03x rows and 76x wall, i.e. SUB-linear per output row),
        # so wall is allowed to scale with max(data growth, output
        # growth).  A query whose time blows up without its output
        # doing so is still a red flag — that is the actual defect
        # class this harness exists to catch.
        out_growth = soak_rows / base_rows if base_rows > 0 else n
        if ratio > 2 * max(n, out_growth):
            red_flags.append(name)
    print(
        json.dumps(
            {
                "metric": "soak_wall_ratio",
                "n": n,
                "total_base_s": round(sum(r["base_s"] for r in results.values()), 1),
                "total_soak_s": round(sum(r["soak_s"] for r in results.values()), 1),
                "red_flags": red_flags,
            }
        )
    )
    if red_flags:
        sys.exit(1)


if __name__ == "__main__":
    main()
