"""Input path expansion on the driver.

A file-source read of a single glob makes Spark probe that pattern for
a streaming sink log (``FileStreamSink.hasMetadata``), which logs a
``FileNotFoundException`` stack trace for every pattern that is not a
real directory.  Expanding the pattern first and reading the matched
list skips the probe; Spark globs the same way itself, so the scan and
its file names are unchanged.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def glob_paths(spark: SparkSession, pattern: str) -> list[str]:
    """The sorted paths ``pattern`` matches, expanded with Hadoop's
    ``FileSystem.globStatus`` (Hadoop's glob grammar, braces included,
    exactly as a Spark read expands it).  Raises ``FileNotFoundError``
    naming the pattern when nothing matches, before any job runs."""
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(pattern)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    matched = fs.globStatus(path) or []
    paths = sorted(s.getPath().toString() for s in matched)
    if not paths:
        raise FileNotFoundError(f"no input matches {pattern!r}")
    return paths
