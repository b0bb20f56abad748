"""Catalog-level tests: every registered query runs at sf0.001 and
matches its DuckDB oracle (the driver's t2 gate, in miniature, so a
regression is caught by pytest before the round gate)."""

from __future__ import annotations

import math

import pytest

from tomasz_weight_tracker_spark.plans import REGISTRY


@pytest.fixture
def sf_small(sf_path):
    return sf_path("sf0.001")


def normalize(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(normalize(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, duck, name, sf_small):
    q = REGISTRY[name]
    sdf = q.build(spark, sf_small)
    srows = [tuple(r) for r in sdf.collect()]
    if q.oracle is None:
        # rows-only contract: runs and yields a stable schema.
        assert isinstance(sdf.columns, list) and len(sdf.columns) > 0
        return
    cur = duck.execute(q.oracle)
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    assert sorted(sdf.columns) == sorted(ocols), f"{name}: column mismatch"
    assert len(srows) == len(orows), f"{name}: row count {len(srows)} != {len(orows)}"
    assert canon(srows, sdf.columns) == canon(orows, ocols), f"{name}: value mismatch"


def test_entry_contract(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.schema is not None
    assert len(E.queries()) == len(REGISTRY)
    oracles = E.oracle_sql()
    assert set(oracles) == {n for n, q in REGISTRY.items() if q.oracle is not None}
