"""Tracked per-query caches.

Some multi-branch plans ``.cache()`` an expensive shared subtree
(Catalyst does not CSE shared subtrees, so without the cache the plan
duplicates the work).  Those caches are per-QUERY state, but Spark
persists them per-SESSION — a long-lived session that iterates the
whole catalog (parity, plan audit, bench) would accumulate every
query's cached relations in executor memory.  ``track_cache`` registers
each one in the application's ``session.SessionState`` so catalog
runners can ``release_caches()`` between queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from . import session


def track_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` with registration for later ``release_caches()``."""
    df.cache()
    session.session_state(df.sparkSession).caches.append(df)
    return df


def release_caches() -> None:
    """Unpersist every tracked per-query cache (no-op if already gone).
    Call after materializing a catalog query in a loop over many."""
    caches = session._STATE.caches if session._STATE is not None else []
    while caches:
        df = caches.pop()
        try:
            df.unpersist()
        except Exception:  # session already stopped — nothing to free
            pass
