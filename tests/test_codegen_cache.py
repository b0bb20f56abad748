"""Spark's cache of compiled generated classes holds a session's working
set, so a plan that ran once is never compiled by Janino again.

Spark's default cache of 100 entries evicts within a working set of a
hundred-odd classes (four LRU segments of 25); every evicted class is
compiled again and restarts in the interpreter.  ``session.get_spark``
sizes the cache to ``CODEGEN_CACHE_ENTRIES``.
"""

from __future__ import annotations

import importlib.util
import os
import random

from tomasz_weight_tracker_spark.__main__ import main
from tomasz_weight_tracker_spark.session import CODEGEN_CACHE_ENTRIES, janino_compiles

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _benchmark_fixtures():
    spec = importlib.util.spec_from_file_location(
        "perfbench_fixtures", os.path.join(ROOT, "perfbench", "fixtures.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_working_set_above_100_classes_compiles_once(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    # Each inlined literal makes a distinct whole-stage class.
    plans = [spark.range(3).selectExpr(f"id * {i} + {i} AS v") for i in range(7001, 7151)]
    first = [df.collect() for df in plans]
    compiled = janino_compiles(spark)
    assert [df.collect() for df in plans] == first
    assert janino_compiles(spark) == compiled


def test_benchmark_cli_commands_compile_nothing_the_second_time(spark, tmp_path):
    """The benchmark's CLI commands on its generated inputs (small
    scale), run twice: the second round reuses every class."""
    fx = _benchmark_fixtures()
    inp = tmp_path / "in"
    inp.mkdir()
    rng = random.Random(1)
    fx.write_meter_csv(rng, str(inp / "meter.csv"), readings=13)
    fx.write_sensor_exports(rng, str(inp / "sensors"), n_sensors=1, n_files=7, minutes=1380)
    fx.write_weight_txts(rng, str(inp / "weight"), n_files=2)
    fx.write_mhtml_snapshots(rng, str(inp / "mhtml"), n_files=12, blocks_per_file=12)

    def run_all(out) -> None:
        for argv in (["electricity", f"{inp}/meter.csv", f"{out}/usage.csv"],
                     ["sensors", f"{inp}/sensors", f"{out}/sensors"],
                     ["weight", f"{inp}/weight/*.txt", f"{out}/weight.csv"],
                     ["jobsearch", f"{inp}/mhtml/*.mhtml", f"{out}/report.md"]):
            assert main(argv) == 0

    run_all(tmp_path / "out1")
    compiled = janino_compiles(spark)
    run_all(tmp_path / "out2")
    assert janino_compiles(spark) == compiled
    for name in ("usage.csv", "weight.csv", "report.md"):
        assert (tmp_path / "out1" / name).read_bytes() == (tmp_path / "out2" / name).read_bytes()
