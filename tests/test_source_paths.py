"""Driver-side glob expansion (``sources/paths.py``): the matched list
reads exactly what Spark's own glob read does, and a pattern that
matches nothing fails before any job."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tomasz_weight_tracker_spark.pipelines.jobsearch import parse_mhtml_snapshots
from tomasz_weight_tracker_spark.pipelines.weight import read_txt_blobs
from tomasz_weight_tracker_spark.sources.paths import glob_paths


def _tree(tmp_path):
    for name in ("b.txt", "a.txt", "c.csv"):
        (tmp_path / name).write_text(name, encoding="utf-8")
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "d.txt").write_text("d", encoding="utf-8")
    return tmp_path


def test_glob_paths_sorted_with_hadoop_grammar(spark, tmp_path):
    root = _tree(tmp_path)
    uri = root.as_uri().replace("file:///", "file:/")
    assert glob_paths(spark, str(root / "*.txt")) == [f"{uri}/a.txt", f"{uri}/b.txt"]
    assert glob_paths(spark, str(root / "{a,c}.*")) == [f"{uri}/a.txt", f"{uri}/c.csv"]
    assert glob_paths(spark, str(root / "*" / "*.txt")) == [f"{uri}/sub/d.txt"]


def test_listed_read_has_the_glob_reads_file_ids(spark, tmp_path):
    root = _tree(tmp_path)
    pattern = str(root / "*.txt")
    listed = sorted(r.file_id for r in read_txt_blobs(spark, pattern).collect())
    globbed = sorted(
        r.f for r in spark.read.text(pattern, wholetext=True)
        .select(F.input_file_name().alias("f")).collect()
    )
    assert listed == globbed and len(listed) == 2
    binary = sorted(
        r.path for r in spark.read.format("binaryFile").load(glob_paths(spark, pattern))
        .select("path").collect()
    )
    assert binary == sorted(
        r.path for r in spark.read.format("binaryFile").load(pattern).select("path").collect()
    )


def test_no_match_fails_before_any_job(spark, tmp_path):
    pattern = str(tmp_path / "*.mhtml")
    sc = spark.sparkContext
    group = "glob-no-match"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(FileNotFoundError, match=r"\*\.mhtml"):
            parse_mhtml_snapshots(spark, pattern)
        with pytest.raises(FileNotFoundError, match=r"nothing\.txt"):
            read_txt_blobs(spark, str(tmp_path / "nothing.txt"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
