"""``release_caches``: a compatibility stub for the benchmark harness.

No catalog plan caches a relation: a shared subtree either ends at an
exchange that AQE reuses, or is an eager ``localCheckpoint`` whose
blocks go with the DataFrame.  ``perfbench/run.py`` still calls
``release_caches()`` after every catalog operation, so the function
stays until that harness drops the import.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def release_caches() -> None:
    """Clear the active session's storage cache (no-op without one)."""
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.catalog.clearCache()
