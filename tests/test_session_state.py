"""One session state and one input-size helper.

``session.SessionState`` holds everything the engine memoizes for one
Spark application and is replaced when the application changes, so a
stopped application's DataFrames are released.  ``parquet_file_sizes``
is the one place that works out input size; every size gate reads its
``None`` ("cannot list") as production scale.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tomasz_weight_tracker_spark.plans import REGISTRY
from tomasz_weight_tracker_spark.plans import catalog as C
from tomasz_weight_tracker_spark.session import parquet_file_sizes

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sparse(path, nbytes: int) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "wb") as f:
        f.truncate(nbytes)  # only the size matters to the gates


class TestParquetFileSizes:
    def test_directory_tree(self, tmp_path):
        d = tmp_path / "corpus"
        d.mkdir()
        (d / "t.parquet").write_bytes(b"x" * 1024)
        (d / "sub").mkdir()
        (d / "sub" / "u.parquet").write_bytes(b"y" * 2048)
        (d / "notes.txt").write_bytes(b"z" * 4096)  # non-parquet ignored
        (d / "_metadata.parquet").write_bytes(b"m" * 8)  # Spark-hidden
        (d / ".t.parquet.crc").write_bytes(b"c" * 8)
        assert sorted(parquet_file_sizes(d)) == [1024, 2048]
        assert sum(parquet_file_sizes(str(d))) == 3072

    def test_file_empty_dir_and_missing(self, tmp_path):
        (tmp_path / "one.parquet").write_bytes(b"x" * 10)
        (tmp_path / "empty").mkdir()
        assert parquet_file_sizes(tmp_path / "one.parquet") == [10]
        assert parquet_file_sizes(tmp_path / "empty") == []
        assert parquet_file_sizes(tmp_path / "absent.parquet") is None


class TestSizeGatesOnDirectoryLayouts:
    """Spark writes tables as directories of part files: the gates must
    size those by their data files, not by the directory entry."""

    def test_lm_broadcast_model_directory_over_cap(self, tmp_path):
        docs = tmp_path / "documents.parquet"
        for i in range(2):
            _sparse(docs / f"part-{i:05d}.parquet", C._LM_BROADCAST_MAX_DOCS_BYTES // 2 + 1)
        assert not C.lm_broadcast_model(str(tmp_path))

    def test_lm_broadcast_model_small_and_missing(self, tmp_path):
        _sparse(tmp_path / "documents.parquet" / "part-00000.parquet", 1 << 20)
        assert C.lm_broadcast_model(str(tmp_path))
        assert not C.lm_broadcast_model(str(tmp_path / "absent"))

    def test_star_preagg_sizes_directory_orders_by_part_files(self, spark, tmp_path):
        big, small = tmp_path / "big", tmp_path / "small"
        for i in range(4):
            _sparse(big / "orders.parquet" / f"part-{i:05d}.parquet",
                    C._STAR_PREAGG_MIN_ORDERS_BYTES // 4)
            _sparse(small / "orders.parquet" / f"part-{i:05d}.parquet", 1 << 10)
        assert C.star_preagg(spark, str(big))
        assert not C.star_preagg(spark, str(small))
        assert C.star_preagg(spark, str(tmp_path / "absent"))


class TestTrackCachePatchable:
    def test_patch_reaches_source_rebalance(self, spark, sf_path, monkeypatch):
        from tomasz_weight_tracker_spark import caching

        seen = []
        monkeypatch.setattr(caching, "track_cache", lambda df: seen.append(df) or df)
        REGISTRY["source_rebalance"].build(spark, sf_path("sf0.001"))
        assert len(seen) == 1


_CYCLES = """
import gc, json, sys, weakref
sys.path.insert(0, {root!r})
from tomasz_weight_tracker_spark import session
from tomasz_weight_tracker_spark.plans.catalog import load, trained_ivf_centroids

apps, refs = [], []
for _ in range(2):
    spark = session.get_spark("state-cycle", master="local[2]", shuffle_partitions=2)
    df = load(spark, {sf!r}, "documents")
    cents = trained_ivf_centroids(spark, {sf!r})
    apps.append(spark.sparkContext.applicationId)
    refs.append([weakref.ref(spark), weakref.ref(df), weakref.ref(cents)])
    spark.stop()
    del spark, df, cents
gc.collect()
states = [o for o in gc.get_objects() if isinstance(o, session.SessionState)]
print(json.dumps({{
    "apps": apps,
    "states": [s.app_id for s in states],
    "first_alive": [r() is not None for r in refs[0]],
}}))
"""


class TestSessionStateLifetime:
    def test_stopped_application_is_released(self, sf_path):
        script = _CYCLES.format(root=ROOT, sf=sf_path("sf0.001"))
        env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
        proc = subprocess.run(
            [sys.executable, "-c", script], capture_output=True, text=True,
            env=env, timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        assert out["apps"][0] != out["apps"][1]
        assert out["states"] == [out["apps"][1]]
        assert out["first_alive"] == [False, False, False]
