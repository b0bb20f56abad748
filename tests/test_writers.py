"""Sink tests: keyed upsert (MERGE semantics) over parquet paths."""

from __future__ import annotations

import argparse
import ast
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tomasz_weight_tracker_spark.sources.writers import compact_table, upsert_by_key


def read_state(spark, path):
    return {
        r.id: (r.v, r.day)
        for r in spark.read.parquet(str(path)).collect()
    }


class TestUpsertByKey:
    def test_insert_update_append(self, spark, tmp_path):
        path = tmp_path / "state"
        base = spark.createDataFrame(
            [(1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2")], "id long, v string, day string"
        )
        upsert_by_key(spark, base, path, keys=["id"])
        assert read_state(spark, path) == {1: ("a", "d1"), 2: ("b", "d1"), 3: ("c", "d2")}

        batch = spark.createDataFrame(
            [(2, "B", "d1"), (4, "d", "d2")], "id long, v string, day string"
        )
        upsert_by_key(spark, batch, path, keys=["id"])
        # id 2 updated in place, id 4 appended, others untouched.
        assert read_state(spark, path) == {
            1: ("a", "d1"), 2: ("B", "d1"), 3: ("c", "d2"), 4: ("d", "d2"),
        }

    def test_rerun_is_idempotent(self, spark, tmp_path):
        path = tmp_path / "state"
        base = spark.createDataFrame([(1, "a", "d1")], "id long, v string, day string")
        upsert_by_key(spark, base, path, keys=["id"])
        batch = spark.createDataFrame(
            [(1, "A", "d1"), (9, "z", "d1")], "id long, v string, day string"
        )
        upsert_by_key(spark, batch, path, keys=["id"])
        first = read_state(spark, path)
        upsert_by_key(spark, batch, path, keys=["id"])  # same batch again
        assert read_state(spark, path) == first == {1: ("A", "d1"), 9: ("z", "d1")}

    def test_partitioned_upsert_rewrites_only_touched_partitions(self, spark, tmp_path):
        path = tmp_path / "state"
        base = spark.createDataFrame(
            [(1, "a", "d1"), (2, "b", "d2"), (3, "c", "d3")], "id long, v string, day string"
        )
        upsert_by_key(spark, base, path, keys=["id"], partition_by=["day"])
        # Record the physical files of the untouched partition.
        d3_dir = path / "day=d3"
        before = {f: os.path.getmtime(d3_dir / f) for f in os.listdir(d3_dir)}

        batch = spark.createDataFrame(
            [(1, "A", "d1"), (4, "d", "d2")], "id long, v string, day string"
        )
        upsert_by_key(spark, batch, path, keys=["id"], partition_by=["day"])
        after = {f: os.path.getmtime(d3_dir / f) for f in os.listdir(d3_dir)}
        assert after == before  # d3 files not rewritten
        got = read_state(spark, path)
        assert got == {1: ("A", "d1"), 2: ("b", "d2"), 3: ("c", "d3"), 4: ("d", "d2")}

    def test_wide_batch_prunes_via_semi_join_not_or_chain(self, spark, tmp_path):
        """Round-4 advice: a batch touching ~1k partitions must not
        build a 1k-term OR predicate (analyzer blowup, pushdown
        defeat) — the prune is one ``struct(...) IN (...)`` partition
        filter whatever the number of touched partitions."""
        import time

        path = tmp_path / "state"
        n = 900
        base = spark.createDataFrame(
            [(i, "a", f"d{i % 1000:04d}") for i in range(n)],
            "id long, v string, day string",
        )
        upsert_by_key(spark, base, path, keys=["id"], partition_by=["day"])
        batch = spark.createDataFrame(
            [(i, "B", f"d{i % 1000:04d}") for i in range(n)],
            "id long, v string, day string",
        )
        t0 = time.time()
        upsert_by_key(spark, batch, path, keys=["id"], partition_by=["day"])
        wall = time.time() - t0
        got = read_state(spark, path)
        assert len(got) == n and all(v == "B" for v, _ in got.values())
        # 900 touched partitions: the OR-chain form took minutes in the
        # analyzer; the IN form is bounded by the write itself.
        assert wall < 120, f"wide-batch upsert took {wall:.0f}s"

    def test_null_partition_rows_survive_merge(self, spark, tmp_path):
        """Round-5 advice: lit(None) equality is null, so the prune
        paths silently dropped non-updated keys living in the NULL
        partition while dynamic overwrite still rewrote it — the
        eqNullSafe prune must keep them."""
        path = tmp_path / "state"
        base = spark.createDataFrame(
            [(1, "a", None), (2, "b", None), (3, "c", "d1")],
            "id long, v string, day string",
        )
        upsert_by_key(spark, base, path, keys=["id"], partition_by=["day"])
        # Update id 1 (stays in the null partition); id 2 must survive.
        batch = spark.createDataFrame(
            [(1, "A", None)], "id long, v string, day string"
        )
        upsert_by_key(spark, batch, path, keys=["id"], partition_by=["day"])
        assert read_state(spark, path) == {
            1: ("A", None), 2: ("b", None), 3: ("c", "d1"),
        }

    def test_null_partition_rows_survive_wide_batch(self, spark, tmp_path):
        """Same defect on a wide batch: the prune must be null-safe
        when one of many touched partition tuples contains NULL."""
        path = tmp_path / "state"
        base_rows = [(i, "a", f"d{i:04d}") for i in range(80)]
        base_rows += [(900, "keep", None), (901, "upd", None)]
        base = spark.createDataFrame(base_rows, "id long, v string, day string")
        upsert_by_key(spark, base, path, keys=["id"], partition_by=["day"])
        # Touch 81 partitions, the null partition among them (update
        # 901; 900 must survive untouched).
        batch_rows = [(i, "B", f"d{i:04d}") for i in range(80)]
        batch_rows += [(901, "UPD", None)]
        batch = spark.createDataFrame(batch_rows, "id long, v string, day string")
        upsert_by_key(spark, batch, path, keys=["id"], partition_by=["day"])
        got = read_state(spark, path)
        assert got[900] == ("keep", None) and got[901] == ("UPD", None)
        assert all(got[i] == ("B", f"d{i:04d}") for i in range(80))

    def test_two_partition_columns_with_null(self, spark, tmp_path):
        path = tmp_path / "state"
        schema = "id long, v string, day string, src string"
        base = [(i, "a", f"d{i % 3}", None if i % 4 == 0 else f"s{i % 2}") for i in range(40)]
        upsert_by_key(spark, spark.createDataFrame(base, schema), path, ["id"], ["day", "src"])
        # Update every row whose src is null or s1 in days d0 and d1; add one.
        batch = [(i, "B", d, s) for i, _, d, s in base if s != "s0" and d != "d2"]
        batch.append((99, "new", "d0", None))
        upsert_by_key(spark, spark.createDataFrame(batch, schema), path, ["id"], ["day", "src"])
        want = {i: (v, d, s) for i, v, d, s in base}
        want.update({i: (v, d, s) for i, v, d, s in batch})
        got = {r.id: (r.v, r.day, r.src) for r in spark.read.parquet(str(path)).collect()}
        assert got == want

    def test_multi_column_key(self, spark, tmp_path):
        path = tmp_path / "state"
        base = spark.createDataFrame(
            [(1, "x", "d1"), (1, "y", "d2")], "id long, v string, day string"
        )
        upsert_by_key(spark, base, path, keys=["id", "day"])
        batch = spark.createDataFrame([(1, "Y", "d2")], "id long, v string, day string")
        upsert_by_key(spark, batch, path, keys=["id", "day"])
        rows = {(r.id, r.day): r.v for r in spark.read.parquet(str(path)).collect()}
        assert rows == {(1, "d1"): "x", (1, "d2"): "Y"}


class TestCompaction:
    def test_many_small_files_become_few(self, spark, tmp_path):
        from tomasz_weight_tracker_spark.sources.writers import compact_table

        path = tmp_path / "t"
        # 12 appends -> at least 12 small files.
        for i in range(12):
            spark.createDataFrame([(i, f"v{i}")], "id long, v string").coalesce(
                1
            ).write.mode("append").parquet(str(path))
        import glob

        before = len(glob.glob(str(path / "*.parquet")))
        assert before >= 12
        rows_before = {(r.id, r.v) for r in spark.read.parquet(str(path)).collect()}

        n = compact_table(spark, path)
        after = len(glob.glob(str(path / "*.parquet")))
        assert n == 1 and after == 1
        assert {(r.id, r.v) for r in spark.read.parquet(str(path)).collect()} == rows_before


class TestSchemaEvolution:
    def test_merge_schema_reads_old_and_new_files(self, spark, tmp_path):
        # A table accretes a column over its lifetime: old files lack
        # it, new files carry it.  mergeSchema unions the schemas and
        # NULL-fills the old files -- the read-side contract an
        # evolving 100 TB table depends on (no rewrite of old data).
        path = tmp_path / "evolving"
        spark.createDataFrame([(1, "a")], "id long, v string").write.mode(
            "append"
        ).parquet(str(path))
        spark.createDataFrame(
            [(2, "b", 9.5)], "id long, v string, score double"
        ).write.mode("append").parquet(str(path))

        merged = spark.read.option("mergeSchema", "true").parquet(str(path))
        assert set(merged.columns) == {"id", "v", "score"}
        rows = {r.id: (r.v, r.score) for r in merged.collect()}
        assert rows == {1: ("a", None), 2: ("b", 9.5)}

    def test_upsert_rejects_schema_drift(self, spark, tmp_path):
        # The WRITE side stays strict: upsert_by_key refuses a batch
        # whose schema drifted from the table (silent column loss is
        # the failure mode), while the read side above stays lenient.
        import pytest as _pytest

        from tomasz_weight_tracker_spark.sources.writers import upsert_by_key

        path = tmp_path / "strict"
        base = spark.createDataFrame([(1, "x")], "id long, v string")
        upsert_by_key(spark, base, path, keys=["id"])
        drifted = spark.createDataFrame([(1, "y", 1.0)], "id long, v string, extra double")
        with _pytest.raises(ValueError, match="schema must match"):
            upsert_by_key(spark, drifted, path, keys=["id"])


def crash_between_renames(monkeypatch):
    """Make the next swap die after its first rename (table -> backup)."""
    real = os.rename
    done = []

    def rename(src, dst):
        if done:
            raise OSError("crash between the renames")
        done.append(src)
        real(src, dst)

    monkeypatch.setattr(os, "rename", rename)


def siblings(path):
    return path.with_name(f".{path.name}.tmp"), path.with_name(f".{path.name}.bak")


class TestRewriteSwap:
    """Every rewrite of a stored table writes a hidden tmp sibling and
    swaps it in with two renames (sources/writers.replace_table); a
    crash between the renames leaves only the backup, and the next
    rewrite puts it back before it reads."""

    SCHEMA = "id long, v string, day string"

    def _crash(self, monkeypatch, rewrite, path):
        with monkeypatch.context() as m:
            crash_between_renames(m)
            with pytest.raises(OSError, match="between the renames"):
                rewrite()
        assert not path.exists() and siblings(path)[1].exists()

    def test_upsert_recovers_backup(self, spark, tmp_path, monkeypatch):
        path = tmp_path / "state"
        base = spark.createDataFrame([(1, "a", "d1"), (2, "b", "d1")], self.SCHEMA)
        upsert_by_key(spark, base, path, keys=["id"])
        lost = spark.createDataFrame([(1, "lost", "d1")], self.SCHEMA)
        self._crash(monkeypatch, lambda: upsert_by_key(spark, lost, path, keys=["id"]), path)
        batch = spark.createDataFrame([(2, "B", "d1"), (3, "c", "d2")], self.SCHEMA)
        upsert_by_key(spark, batch, path, keys=["id"])
        assert read_state(spark, path) == {1: ("a", "d1"), 2: ("B", "d1"), 3: ("c", "d2")}
        assert not any(p.exists() for p in siblings(path))

    def test_partitioned_upsert_recovers_backup(self, spark, tmp_path, monkeypatch):
        path = tmp_path / "state"
        base = spark.createDataFrame([(1, "a", "d1"), (2, "b", "d2")], self.SCHEMA)
        upsert_by_key(spark, base, path, keys=["id"], partition_by=["day"])
        self._crash(monkeypatch, lambda: compact_table(spark, path / "day=d1"), path / "day=d1")
        # The hidden backup is no partition of the table ...
        assert {r.day for r in spark.read.parquet(str(path)).collect()} == {"d2"}
        # ... and a whole-table crash is put back before the partitioned read.
        os.rename(path, siblings(path)[1])
        batch = spark.createDataFrame([(3, "c", "d2")], self.SCHEMA)
        upsert_by_key(spark, batch, path, keys=["id"], partition_by=["day"])
        assert read_state(spark, path) == {2: ("b", "d2"), 3: ("c", "d2")}
        compact_table(spark, path / "day=d1")
        assert read_state(spark, path) == {1: ("a", "d1"), 2: ("b", "d2"), 3: ("c", "d2")}

    def test_compact_recovers_backup(self, spark, tmp_path, monkeypatch):
        path = tmp_path / "t"
        for i in range(4):
            spark.createDataFrame([(i, f"v{i}")], "id long, v string").coalesce(1).write.mode(
                "append"
            ).parquet(str(path))
        self._crash(monkeypatch, lambda: compact_table(spark, path), path)
        assert compact_table(spark, path) == 1
        assert len(list(path.glob("*.parquet"))) == 1
        rows = {(r.id, r.v) for r in spark.read.parquet(str(path)).collect()}
        assert rows == {(i, f"v{i}") for i in range(4)}

    def test_incremental_agg_recovers_backup(self, spark, tmp_path, monkeypatch):
        from tomasz_weight_tracker_spark.operators.incremental import incremental_agg

        state = tmp_path / "agg"
        df = spark.createDataFrame(
            [(i % 3, i) for i in range(12)], "k long, qv long"
        )
        incremental_agg(spark, df.filter("qv < 4"), state, keys=["k"], value_col="qv")
        lost = df.filter("qv >= 4 AND qv < 8")
        self._crash(
            monkeypatch,
            lambda: incremental_agg(spark, lost, state, keys=["k"], value_col="qv"),
            state,
        )
        out = incremental_agg(spark, df.filter("qv >= 8"), state, keys=["k"], value_col="qv")
        want = (
            df.filter("qv < 4 OR qv >= 8")
            .groupBy("k")
            .agg(F.count("*").alias("n"), F.sum("qv").alias("sum_v"),
                 F.min("qv").alias("min_v"), F.max("qv").alias("max_v"))
        )
        assert sorted(out.collect()) == sorted(want.collect())

    def test_failed_batch_leaves_table_unchanged(self, spark, tmp_path):
        path = tmp_path / "state"
        base = spark.createDataFrame([(1, "a", "d1"), (2, "b", "d1")], self.SCHEMA)
        upsert_by_key(spark, base, path, keys=["id"])
        bad = spark.createDataFrame([(2, "B", "d1"), (3, "c", "d2")], self.SCHEMA).withColumn(
            "v", F.when(F.col("id") == 3, F.raise_error(F.lit("boom"))).otherwise(F.col("v"))
        )
        with pytest.raises(Exception, match="boom"):
            upsert_by_key(spark, bad, path, keys=["id"])
        assert read_state(spark, path) == {1: ("a", "d1"), 2: ("b", "d1")}
        assert not siblings(path)[1].exists()

    def test_compact_partition_dir_keeps_partition_values(self, spark, tmp_path):
        path = tmp_path / "t"
        for i in range(6):
            spark.createDataFrame(
                [(i, f"v{i}", f"d{i % 2}")], "id long, v string, day string"
            ).coalesce(1).write.mode("append").partitionBy("day").parquet(str(path))
        before = sorted(spark.read.parquet(str(path)).collect())
        assert compact_table(spark, path / "day=d0") == 1
        assert sorted(spark.read.parquet(str(path)).collect()) == before
        assert len(list((path / "day=d0").glob("*.parquet"))) == 1
        visible = sorted(p.name for p in path.iterdir() if p.is_dir() and p.name[0] != ".")
        assert visible == ["day=d0", "day=d1"]


class TestJobFloor:
    def test_cli_upsert_and_compact(self, spark, tmp_path):
        """Two CLI upserts and a compaction take at most 10 jobs (13
        with a checkpoint in front of every rewrite), none of them a
        checkpoint."""
        from tomasz_weight_tracker_spark.__main__ import run as cli_run

        for b in range(2):
            spark.createDataFrame(
                [(b * 1000 + i, f"v{b}_{i}", float(i)) for i in range(2000)],
                "id long, v string, amount double",
            ).write.parquet(str(tmp_path / f"batch_{b}.parquet"))
        table = tmp_path / "table"
        sc = spark.sparkContext
        group = "upsert-job-floor"
        sc.setJobGroup(group, group)
        try:
            for b in range(2):
                cli_run(spark, argparse.Namespace(
                    cmd="upsert", batch_path=str(tmp_path / f"batch_{b}.parquet"),
                    table_path=str(table), keys="id", partition_by=None,
                ))
            cli_run(spark, argparse.Namespace(cmd="compact", table_path=str(table), target_mb=128))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert spark.read.parquet(str(table)).count() == 3000
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = [
            tracker.getStageInfo(s).name
            for j in jobs
            for s in tracker.getJobInfo(j).stageIds
            if tracker.getStageInfo(s) is not None
        ]
        assert not [s for s in stages if "localCheckpoint" in s], stages
        assert len(jobs) <= 10


class TestOneRewritePath:
    """The stored-table rewrite policy lives in one place: no
    checkpoint-then-overwrite cycle, one function with the renames,
    and no sibling naming of the incremental views' own."""

    PKG = Path(__file__).resolve().parent.parent / "tomasz_weight_tracker_spark"
    MODULES = ("sources/writers.py", "operators/incremental.py")

    def _trees(self):
        return {m: ast.parse((self.PKG / m).read_text()) for m in self.MODULES}

    def test_no_local_checkpoint(self):
        for mod, tree in self._trees().items():
            calls = [
                n.lineno for n in ast.walk(tree)
                if isinstance(n, ast.Attribute) and n.attr == "localCheckpoint"
            ]
            assert not calls, f"{mod}: localCheckpoint at lines {calls}"

    def test_one_function_renames(self):
        renaming = set()
        for mod, tree in self._trees().items():
            for fn in ast.walk(tree):
                if isinstance(fn, ast.FunctionDef) and any(
                    isinstance(n, ast.Attribute) and n.attr == "rename"
                    and isinstance(n.value, ast.Name) and n.value.id == "os"
                    for n in ast.walk(fn)
                ):
                    renaming.add(f"{mod}:{fn.name}")
        assert renaming == {"sources/writers.py:_swap_in"}

    def test_incremental_names_no_siblings(self):
        tree = self._trees()["operators/incremental.py"]
        names = [
            n.value for n in ast.walk(tree)
            if isinstance(n, ast.Constant) and isinstance(n.value, str)
            and n.value in (".tmp", ".bak")
        ]
        assert not names
