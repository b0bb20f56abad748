"""Benchmark harness: runs the headline catalog queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``.  Stdout carries exactly two JSON lines —
first the large per-catalog-query map (also mirrored to
``BENCH_FULL.json``), and LAST the small driver-parseable headline:

    {"metric": "headline_queries_wall_sec", "value": N, "unit": "sec",
     "queries": {...}, "sf": ...}

The driver records only a ~2 KB tail of stdout, so the headline line
must stay small and must come last (round-5 verdict item 1).

Materialization methodology: each query is forced end-to-end with a
JVM-side checksum — ``agg(count(*), bit_xor(xxhash64(struct(*))))`` — so
every output row and column is computed (no lazy short-cuts, no column
pruning of the result), but timing measures the ENGINE, not the
driver-side Python row conversion of collect().  That matches how a
100 TB job consumes results (written/aggregated cluster-side, never
collected), and adds only a scan-speed fold over the output.

Timing: per query, one untimed warm pass on a compiled plan, then
THREE timed executions of that same plan (execution is fully repeated
each pass; only compilation is reused).  The headline reports the
per-query MEDIAN (and sums medians), so a single noise spike neither
inflates nor deflates a query's number; the full {median, min, max}
per query goes to ``BENCH_STATS.json`` (and its own stdout line) so a
reviewer can separate run-to-run jitter from real regression
mechanically — sub-second queries at the scheduling floor move +/-40%
between rounds, and without the spread that reads as a plan change.

Beyond the headline, the JSON carries (round-4 verdict items 7/8):

- ``queries_full``: one {t_spark, t_duck} pair for EVERY catalog query
  — the engine run (build + JVM checksum materialization, timed from
  before build so eagerly-executing queries are honest; warm pass
  first, same as the headline — ``t_cold`` keeps the old cold-build
  number visible) next to its warmed
  DuckDB oracle (execute + fetch) on the same parquet, at
  ``$SPARK_GRAFT_FULL_SF_DIR`` (default sf0.01, the driver's
  correctness-gate scale; the committed PARITY_r{N}*.txt artifacts
  carry the sf0.1 pairs).  Disable with SPARK_GRAFT_QUERIES_FULL=0.
- ``streaming``: the drained streaming flagship vs its batch twin —
  a streaming-path perf regression would otherwise be invisible here.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from tomasz_weight_tracker_spark.plans import REGISTRY
from tomasz_weight_tracker_spark.session import get_spark, tune_for_scale

# Headline set: the flagship pipeline + one representative per operator
# family, weighted toward the shuffle/explode-heavy queries that
# dominate at scale.
HEADLINE = [
    "pricing_summary",
    "revenue_by_nation",
    "electricity_15min",
    "bucket_15min",
    "rolling_avg_7d",
    "dedup_keep_last",
    "sessionize",
    "pivot_event_counts",
    "minute_grid",
    "exact_dedup",
    "minhash_signature",
    "lsh_near_dup",
    "doc_quality",
    "embed_knn",
    "embed_centroid",
    "asof_join_purchases",
    "rollup_revenue",
    "weekly_resample",
    # Round-3 families, one representative each (BASELINE.md round-3
    # table records both engines' numbers; the set includes queries
    # where DuckDB wins — zscore's Python boundary, per-row repetition
    # metrics — as well as the corpus-explode ops where Spark does).
    "contamination_overlap",
    "boilerplate_ngrams",
    "doc_repetition",
    "salient_terms",
    "hll_user_counts",
    # The plan a user should run for grouped z-scores: the native
    # window/aggregate twin.  The Arrow grouped-map variant measures
    # the same oracle through the Python boundary and is reported as a
    # SIDEBAR metric below — it exists as API coverage, not as the
    # recommended plan, so it does not belong in the headline total.
    "user_zscore_native",
    # Round-4 families, one representative each: CDC (SCD2 history
    # build + snapshot diff), time-horizon dedup, and the inverted
    # index (explode-heavy corpus op).
    "scd2_user_state",
    "snapshot_diff",
    "dedup_throttle",
    "inverted_index",
    # Round-5 families: lexical retrieval, deterministic weighted
    # sampling, the bucketized range join, and rare-feature cosine
    # near-dup.  (graph_triangle_stats stays out of the headline —
    # the sf0.1 co-supply graph is complete (166M triangles), an
    # output-bound outlier tracked in queries_full instead.)
    "bm25_search",
    "weighted_sample_events",
    "interval_bucket_join",
    "lexical_cosine_pairs",
    # Round-7 flagship: distributed BPE vocabulary training (8 merge
    # rounds; corpus touched once, then vocabulary-bounded state).
    "bpe_vocab_train",
    # Round-8: the statistical-filtering family's sf0.1 slope as a
    # tracked number (round-7 verdict item 7 — the LM queries lived
    # only in the sf0.01 queries_full, floor-dominated), plus the
    # linear-output consumer shape of the collapse-first LSH rework.
    "ngram_lm_score",
    "lsh_dup_star_edges",
    # Round-8b: the unaligned exact-substring passage detector — the
    # corpus-explode representative of the new dedup family (the
    # rebuild, audits and IVFADC are training/fixed-cost-dominated and
    # tracked in queries_full).
    "dup_passage_spans",
]

SIDEBAR = ["user_zscore_arrow"]

# Hard ceiling for the final stdout line: the driver parses a ~2 KB
# tail, so the headline JSON must stay comfortably below it.
_HEADLINE_MAX_BYTES = 1800


def materialize(df) -> int:
    """Execute the full plan JVM-side; return the row count."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("checksum"),
    ).first()
    return row["n"]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Noise self-description (round-9 verdict item 5): co-tenant host
    # load swings absolute walls +/-40% between rounds while the
    # same-window Spark/oracle RATIO stays stable — record both so the
    # committed BENCH_rN.json needs no forensic BASELINE.md footnote.
    la_start = os.getloadavg()[0]
    spark = get_spark("bench")
    # Partitions follow data (session.tune_for_scale): the fixed
    # 32-partition default over-splits the small test corpora and the
    # scheduler floor dominates small-query walls.
    tune_for_scale(spark, sf_dir)

    # Warm the JVM + parquet footers once so per-query numbers measure
    # the operators, not session startup.
    materialize(REGISTRY["global_summary"].build(spark, sf_dir))

    timings: dict[str, float] = {}
    sidebar: dict[str, float] = {}
    query_stats: dict[str, dict[str, float]] = {}
    for name in HEADLINE + SIDEBAR:
        q = REGISTRY[name]
        # Steady-state methodology: build the checksum plan ONCE, run an
        # untimed warm pass (Catalyst analysis/optimization + codegen JIT
        # are per-plan-shape constants, irrelevant at scale), then time
        # THREE executions of the SAME compiled plan and report the
        # MEDIAN — the engine's marginal cost, the number that
        # extrapolates to a 1000-executor run.  No catalog plan caches a
        # relation, so each pass re-scans parquet and re-executes the
        # FULL operator tree; only plan COMPILATION is reused (as any
        # repeated production query would via the plan cache).  The
        # median absorbs a noise spike in either direction without
        # hiding real cost; min/max per query go to BENCH_STATS.json so
        # jitter is auditable.
        df = q.build(spark, sf_dir)
        agg = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("checksum"),
        )
        n = agg.first()["n"]  # warm pass
        walls = []
        for _ in range(3):
            t0 = time.time()
            agg.first()
            walls.append(time.time() - t0)
        walls.sort()
        med = round(walls[1], 3)
        query_stats[name] = {
            "median": med,
            "min": round(walls[0], 3),
            "max": round(walls[2], 3),
        }
        bucket = sidebar if name in SIDEBAR else timings
        bucket[name] = med
        print(
            f"# {name}: {med}s median of {[round(w, 3) for w in walls]} ({n} rows)",
            file=sys.stderr,
            flush=True,
        )

    # Streaming flagship vs its batch twin: one drain pass (the stream
    # executes eagerly inside build, so the timer wraps build too; no
    # warm pass — a drain is one-shot by nature) against the batch
    # query's steady-state number from the loop above.
    streaming = {}
    try:
        t0 = time.time()
        sdf = REGISTRY["streaming_bucket_15min"].build(spark, sf_dir)
        materialize(sdf)
        stream_wall = round(time.time() - t0, 3)
        batch_wall = timings.get("bucket_15min")
        streaming = {
            "streaming_bucket_15min": stream_wall,
            "bucket_15min_batch": batch_wall,
            "stream_over_batch": round(stream_wall / batch_wall, 2)
            if batch_wall
            else None,
        }
        print(f"# streaming_bucket_15min: {stream_wall}s", file=sys.stderr, flush=True)
    except Exception as e:  # noqa: BLE001 — bench must still emit its line
        streaming = {"error": str(e)[:300]}

    # Layout-lever queries at headline scale: the write is the 100 TB
    # investment, the query is what it buys — report both components
    # (round-6 verdict item 3) instead of one merged wall number.
    from tomasz_weight_tracker_spark.plans.catalog import LAYOUT_WRITE_S

    layout = {}
    for name in (
        "bucketed_join_orders",
        "partition_pruned_scan",
        "training_shard_write",
    ):
        try:
            LAYOUT_WRITE_S.pop(name, None)
            t0 = time.time()
            materialize(REGISTRY[name].build(spark, sf_dir))
            wall = time.time() - t0
            w = LAYOUT_WRITE_S.get(name, 0.0)
            layout[name] = {
                "write_s": round(w, 2),
                "query_s": round(max(wall - w, 0.0), 2),
            }
            print(f"# layout {name}: {layout[name]}", file=sys.stderr, flush=True)
        except Exception as e:  # noqa: BLE001 — bench must still emit its line
            layout[name] = {"error": str(e)[:120]}

    queries_full = {}
    full_sf_dir = os.environ.get(
        "SPARK_GRAFT_FULL_SF_DIR", "/root/testdata/sf0.01"
    )
    if os.environ.get("SPARK_GRAFT_QUERIES_FULL", "1") != "0":
        import duckdb

        # Fresh SparkContext for the sidecar, NOT a fresh JVM: stop() and
        # get_spark() reuse the same py4j gateway JVM (same pid), so the
        # ~150 headline executions' codegen classes and GC state carry
        # over into the ~470 plan shapes the sidecar compiles.  The
        # restart drops the session's state (memos, listeners,
        # executors); it does not remove the late-alphabet JVM drag seen
        # in the round-11 run (pq_recall_audit 6.9 s standalone vs
        # 16.4 s at position ~400).
        spark.stop()
        spark = get_spark("bench-sidecar")
        tune_for_scale(spark, full_sf_dir)

        con = duckdb.connect()
        for t in (
            "region nation customer supplier part orders lineitem events "
            "documents embeddings"
        ).split():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{full_sf_dir}/{t}.parquet')"
            )
        for name in sorted(REGISTRY):
            q = REGISTRY[name]
            entry = {}
            try:
                # Same discipline as the headline (and as tools/
                # duck_bench.py on the oracle side): one untimed warm
                # pass — Catalyst analysis + codegen JIT are per-plan-
                # shape constants, irrelevant at scale and absent from
                # DuckDB's ms-level compile — then ONE timed execution
                # of a fresh build.  Until round 10
                # the sidecar timed the COLD build, charging Spark
                # ~0.5-1 s of JIT per entry that the oracle side never
                # pays; t_cold records what that was, so the change
                # hides nothing.  Stateful replay queries (incremental
                # / streaming harnesses) do their real work eagerly in
                # build on fresh scratch dirs, so for them warm and
                # timed are two full honest executions.
                LAYOUT_WRITE_S.pop(name, None)
                t0 = time.time()
                fdf = q.build(spark, full_sf_dir)
                materialize(fdf)
                entry["t_cold"] = round(time.time() - t0, 2)
                LAYOUT_WRITE_S.pop(name, None)
                t0 = time.time()
                fdf = q.build(spark, full_sf_dir)
                materialize(fdf)
                entry["t_spark"] = round(time.time() - t0, 2)
                # Layout queries: split the investment (write_s) from
                # what it buys (query_s) — round-6 verdict item 3.
                if name in LAYOUT_WRITE_S:
                    entry["write_s"] = LAYOUT_WRITE_S[name]
                    entry["query_s"] = round(
                        max(entry["t_spark"] - entry["write_s"], 0.0), 2
                    )
            except Exception as e:  # noqa: BLE001
                entry["t_spark_err"] = str(e)[:200]
            if q.oracle is not None:
                try:
                    con.execute(q.oracle).fetchall()  # warm
                    t0 = time.time()
                    con.execute(q.oracle).fetchall()
                    entry["t_duck"] = round(time.time() - t0, 2)
                except Exception as e:  # noqa: BLE001
                    entry["t_duck_err"] = str(e)[:200]
            queries_full[name] = entry
            print(f"# full {name}: {entry}", file=sys.stderr, flush=True)

    # Scale-drift sentinel (round-5 verdict item 9): a small 10x soak of
    # the scale-risk queries, driver-visible as numbers instead of a
    # committed-text artifact.  Base is sf0.01 so build+run stays cheap
    # (the 10x replica equals sf0.1 volume); the committed SOAK_r{N}.txt
    # remains the full-depth record.  Disable with SPARK_GRAFT_SOAK=0.
    soak = {}
    if os.environ.get("SPARK_GRAFT_SOAK", "1") != "0":
        try:
            sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
            from tools.soak import build_soak, timed as soak_timed

            soak_n = 10
            soak_base = os.environ.get(
                "SPARK_GRAFT_SOAK_BASE", "/root/testdata/sf0.01"
            )
            soak_dir = f"/tmp/bench_soak_{soak_n}x_{os.path.basename(soak_base.rstrip('/'))}"
            build_soak(spark, soak_base, soak_dir, soak_n)
            for name in (
                "interval_bucket_join",
                "snm_near_dup",
                "lexical_cosine_pairs",
                "graph_triangle_stats",
                "fuzzy_name_match",
            ):
                b_wall, b_rows = soak_timed(spark, name, soak_base)
                s_wall, s_rows = soak_timed(spark, name, soak_dir)
                soak[name] = {
                    "base_s": round(b_wall, 2),
                    "soak_s": round(s_wall, 2),
                    "ratio": round(s_wall / b_wall, 1) if b_wall > 0 else None,
                    "rows": f"{b_rows}->{s_rows}",
                }
                print(f"# soak {name}: {soak[name]}", file=sys.stderr, flush=True)
        except Exception as e:  # noqa: BLE001 — bench must still emit its line
            soak = {"error": str(e)[:300]}

    total = round(sum(timings.values()), 3)
    full_sf = full_sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # The driver keeps only a ~2 KB TAIL of stdout and parses the last
    # line (round-5 verdict #1: the merged giant line truncated to
    # "parsed: null").  So: the full per-query map goes out FIRST as its
    # own line (and a sidecar file for humans), and stdout ENDS with the
    # small headline JSON the driver's gate actually compares.
    full_payload = {
        "metric": "queries_full",
        "queries_full": queries_full,
        "queries_full_sf": float(full_sf)
        if full_sf.replace(".", "").isdigit()
        else full_sf,
    }
    # Per-query run spread (median/min/max of the 3 timed passes) —
    # its own stdout line plus a committed sidecar, so regression vs
    # jitter is mechanically separable without re-running the bench.
    stats_payload = {
        "metric": "headline_query_stats",
        "runs": 3,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "stats": query_stats,
    }
    print(json.dumps(stats_payload), flush=True)
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "BENCH_STATS.json"
            ),
            "w",
        ) as fh:
            json.dump(stats_payload, fh, indent=1)
    except OSError:
        pass  # the stdout line above is the record of note
    print(json.dumps(full_payload), flush=True)
    # A headline-only run (SPARK_GRAFT_QUERIES_FULL=0) must not clobber
    # the committed full sidecar with an empty payload.
    if queries_full:
        try:
            sidecar = os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
            )
            with open(sidecar, "w") as fh:
                json.dump(full_payload, fh, indent=1)
        except OSError:
            pass  # the stdout line above is the record of note
    # Same-window oracle probe at the HEADLINE scale: the DuckDB side
    # of five non-trivial headline queries, timed right here (warm +
    # best-of-2, duck_bench's discipline).  probe_ratio = Spark medians
    # / DuckDB walls over the same five in the same load window — the
    # load-robust gate number.  ~10 s of DuckDB; full per-query oracle
    # walls stay in tools/duck_bench.py runs.
    oracle_probe = {}
    try:
        import duckdb

        probe_set = [
            "pricing_summary",
            "electricity_15min",
            "lsh_near_dup",
            "lexical_cosine_pairs",
            "snapshot_diff",
        ]
        pcon = duckdb.connect()
        for t in (
            "region nation customer supplier part orders lineitem events "
            "documents embeddings"
        ).split():
            pcon.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        duck_total = 0.0
        for name in probe_set:
            sql = REGISTRY[name].oracle
            pcon.execute(sql).fetchall()  # warm
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                pcon.execute(sql).fetchall()
                best = min(best, time.time() - t0)
            duck_total += best
        pcon.close()
        spark_total = sum(timings.get(n, 0.0) for n in probe_set)
        oracle_probe = {
            "queries": probe_set,
            "spark_s": round(spark_total, 2),
            "duck_s": round(duck_total, 2),
            "ratio": round(spark_total / duck_total, 3) if duck_total else None,
        }
    except Exception as e:  # noqa: BLE001 — the probe must not kill the line
        oracle_probe = {"error": str(e)[:120]}
    full_ratio = None
    full_totals = None
    if queries_full:
        ts = sum(v.get("t_spark", 0.0) for v in queries_full.values() if isinstance(v, dict))
        td = sum(v.get("t_duck", 0.0) for v in queries_full.values() if isinstance(v, dict))
        if td:
            full_ratio = round(ts / td, 3)
            # Both totals, not just the ratio: DuckDB's in-process walls
            # compress much more than Spark's on a quiet host (r11's
            # loaded record read 249 s where a quiet host reads ~141 s
            # for the SAME oracles), so the ratio alone conflates
            # engine floors with host load.
            full_totals = {"spark_s": round(ts, 1), "duck_s": round(td, 1)}
    headline = {
        "metric": "headline_queries_wall_sec",
        "value": total,
        "unit": "sec",
        "loadavg": [round(la_start, 2), round(os.getloadavg()[0], 2)],
        "oracle_probe": oracle_probe,
        "full_catalog_ratio_sf001": full_ratio,
        "full_catalog_totals_sf001": full_totals,
        "queries": timings,
        # Measured-boundary exhibits (not in the headline total):
        # same oracle as a headline twin, slower path by design.
        "sidebar_queries": sidebar,
        "streaming": streaming,
        "soak_queries": soak,
        "layout": layout,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # The driver keeps ~2 KB of stdout tail: the headline line MUST fit
    # (round-6 advice — the round-5 'parsed: null' failure silently
    # returns once the line outgrows the tail).  Slim progressively,
    # then fail LOUDLY rather than print an unparseable record.
    line = json.dumps(headline)
    if len(line) > _HEADLINE_MAX_BYTES and isinstance(oracle_probe, dict):
        headline["oracle_probe"] = {
            k: v for k, v in oracle_probe.items() if k != "queries"
        }
        line = json.dumps(headline)
    if len(line) > _HEADLINE_MAX_BYTES and isinstance(soak, dict):
        headline["soak_queries"] = {
            k: (v.get("ratio") if isinstance(v, dict) else v)
            for k, v in soak.items()
        }
        line = json.dumps(headline)
    if len(line) > _HEADLINE_MAX_BYTES:
        # per-query timings are the gate's payload — keep them; shed
        # the exhibits (full detail stays in BENCH_FULL.json/stderr).
        headline["sidebar_queries"] = {}
        headline["streaming"] = {
            k: streaming[k] for k in ("stream_over_batch",) if k in streaming
        }
        line = json.dumps(headline)
    if len(line) > _HEADLINE_MAX_BYTES:
        raise SystemExit(
            f"headline JSON is {len(line)} bytes > {_HEADLINE_MAX_BYTES}: "
            "trim the headline set or move detail to BENCH_FULL.json"
        )
    print(line, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
