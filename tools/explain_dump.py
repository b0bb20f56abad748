"""Dump ``.explain("formatted")`` for catalog queries to files.

Usage: python tools/explain_dump.py OUT_DIR SUFFIX [sf_dir] [query ...]

Writes ``OUT_DIR/<query>_<SUFFIX>.txt`` for each named query (default:
the bench HEADLINE set).  Run from a repo checkout; pair a run from the
round-N baseline tree (``git archive``) with one from HEAD to produce
the ``_before`` / ``_after`` plan evidence for the optimization record.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

from tomasz_weight_tracker_spark.plans import REGISTRY  # noqa: E402
from tomasz_weight_tracker_spark.session import get_spark, tune_for_scale  # noqa: E402

SKIP_PREFIX = ("streaming_",)  # per-micro-batch plans; covered by tests


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.001"
    names = sys.argv[4:]
    if not names:
        import importlib.util

        spec = importlib.util.spec_from_file_location("bench", "bench.py")
        bench = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(bench)
        names = bench.HEADLINE + bench.SIDEBAR
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("explain-dump")
    tune_for_scale(spark, sf_dir)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in names:
        if name.startswith(SKIP_PREFIX) or name not in REGISTRY:
            print(f"skip {name}", file=sys.stderr)
            continue
        try:
            df = REGISTRY[name].build(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as e:  # noqa: BLE001 — dump what we can
            plan = f"ERROR building/explaining {name}: {e}\n"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(f"wrote {name}_{suffix}.txt", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
