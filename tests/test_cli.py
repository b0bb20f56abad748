"""CLI smoke tests: each subcommand runs end-to-end on tiny inputs
(the session is reused via getOrCreate, so these stay fast)."""

from __future__ import annotations

import pytest

from tomasz_weight_tracker_spark.__main__ import main


def test_electricity_cli(spark, tmp_path):
    src = tmp_path / "meter.csv"
    src.write_text(
        "Date,Time,P,OP\n"
        "01/06/2024,10:00:00,100,200\n"
        "01/06/2024,11:00:00,160,230\n"
    )
    out = tmp_path / "usage.csv"
    assert main(["electricity", str(src), str(out), "--tz", ""]) in (0, None) or out.exists()
    assert out.exists()
    lines = out.read_text().strip().splitlines()
    assert lines[0].startswith("Bucket,")
    assert len(lines) == 5  # header + 4 buckets

def test_catalog_cli_lists_unknown(spark, capsys):
    assert main(["catalog", "no_such_query"]) == 2
    assert "available:" in capsys.readouterr().out


def test_catalog_cli_runs_query(spark, sf_path):
    assert main(["catalog", "global_summary", "--sf-dir", sf_path("sf0.001")]) == 0


def test_upsert_and_compact_cli(spark, tmp_path):
    from tomasz_weight_tracker_spark.__main__ import main

    table = str(tmp_path / "table")
    b1, b2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").write.parquet(b1)
    spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string").write.parquet(b2)

    assert main(["upsert", b1, table, "--keys", "id"]) == 0
    assert main(["upsert", b2, table, "--keys", "id"]) == 0
    got = {(r.id, r.v) for r in spark.read.parquet(table).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}

    assert main(["compact", table]) == 0
    import glob

    assert len(glob.glob(f"{table}/*.parquet")) == 1
    assert {(r.id, r.v) for r in spark.read.parquet(table).collect()} == got


def test_explain_cli_prints_physical_plan(spark, capsys, sf_path):
    from tomasz_weight_tracker_spark.__main__ import run

    class A:
        cmd = "explain"
        query = "pricing_summary"
        sf_dir = sf_path("sf0.001")
        mode = "formatted"

    assert run(spark, A()) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "Scan parquet" in out
