"""Local mirror of the driver's correctness gate.

Runs every catalog query through Spark AND its DuckDB oracle on the
same parquet tables, then compares row count, column names, and
order-insensitive values (exact — the engine's float discipline is
bit-exactness, see plans/catalog.py).

Usage:  python tools/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time

import duckdb

sys.path.insert(0, ".")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    import os

    con = duckdb.connect()
    # Bound the oracle: a pair-relation CTE on a verbatim-duplicated
    # soak/sf1 corpus can balloon quadratically — without a limit the
    # KERNEL oom-kills the whole parity run (124 GB RSS observed at
    # sf1) instead of DuckDB failing the one query gracefully.
    con.execute("SET memory_limit='24GB'")
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        # Driver testdata ships single files; Spark-written corpora
        # (tools/soak.py replicas, the sf1 run) are directories.
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def normalize(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(normalize(r[i]) for i in order))
    out.sort()
    return out


def compare_one(spark, con, q, sf_dir: str) -> dict:
    t0 = time.time()
    sdf = q.build(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    t_spark = time.time() - t0

    if q.oracle is None:
        return {
            "name": q.name,
            "status": "rows_only",
            "spark_rows": len(srows),
            "t_spark": round(t_spark, 2),
        }

    t0 = time.time()
    cur = con.execute(q.oracle)
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    t_duck = time.time() - t0

    res = {
        "name": q.name,
        "spark_rows": len(srows),
        "oracle_rows": len(orows),
        "t_spark": round(t_spark, 2),
        "t_duck": round(t_duck, 2),
    }
    if sorted(scols) != sorted(ocols):
        res["status"] = "SCHEMA_MISMATCH"
        res["spark_cols"] = scols
        res["oracle_cols"] = ocols
        return res
    if len(srows) != len(orows):
        res["status"] = "ROWCOUNT_MISMATCH"
        return res
    cs = canon(srows, scols)
    co = canon(orows, ocols)
    if cs != co:
        res["status"] = "VALUE_MISMATCH"
        diffs = [(a, b) for a, b in zip(cs, co) if a != b]
        res["n_diff"] = len(diffs)
        res["first_diff"] = diffs[0] if diffs else None
        return res
    res["status"] = "OK"
    return res


def main():
    args = [a for a in sys.argv[1:]]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.001"
    names = [a for a in args if "/" not in a]

    from tomasz_weight_tracker_spark.plans import REGISTRY
    from tomasz_weight_tracker_spark.session import get_spark, tune_for_scale

    # The compare collects FULL results on both sides; wide-output
    # queries at sf1/sf10 (electricity's per-minute explode is ~12M
    # rows at sf10) exceed the 1g default maxResultSize — a harness
    # limit, not an engine one, so raise it for the parity session.
    spark = get_spark("parity", extra_conf={"spark.driver.maxResultSize": "6g"})
    tune_for_scale(spark, sf_dir)

    todo = names or list(REGISTRY)
    failures = 0
    for name in todo:
        q = REGISTRY[name]
        try:
            # Fresh connection per query: DuckDB's buffer pool is
            # per-connection, and one heavy oracle (a 10-minute
            # closure CTE at sf10) can leave the pool pinned near the
            # 24 GB cap — every later query in the batch then dies on
            # kilobyte allocations ("bad allocation").  Views are
            # cheap to re-register.
            con = duck_connection(sf_dir)
            res = compare_one(spark, con, q, sf_dir)
        except Exception as e:  # noqa: BLE001
            res = {"name": name, "status": "ERROR", "error": str(e)[:500]}
        finally:
            try:
                con.close()
            except Exception:  # noqa: BLE001 — already closed / never opened
                pass
        ok = res["status"] in ("OK", "rows_only")
        if not ok:
            failures += 1
        print(("PASS " if ok else "FAIL ") + str(res), flush=True)
    print(f"\n{len(todo) - failures}/{len(todo)} passed on {sf_dir}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
