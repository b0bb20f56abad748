"""CLI: run the reference workloads end-to-end.

A user of the reference repo runs one script per pipeline; the engine
equivalent is one subcommand per pipeline, same inputs, same outputs:

    python -m tomasz_weight_tracker_spark electricity METER_CSV OUT_CSV
    python -m tomasz_weight_tracker_spark sensors INPUT_DIR OUT_DIR
    python -m tomasz_weight_tracker_spark weight TXT_GLOB OUT_CSV [--freq W-FRI]
    python -m tomasz_weight_tracker_spark jobsearch MHTML_GLOB OUT_MD [--cutoff 2025-01-01]
    python -m tomasz_weight_tracker_spark catalog QUERY_NAME [--sf-dir DIR]
    python -m tomasz_weight_tracker_spark explain QUERY_NAME [--mode formatted]
    python -m tomasz_weight_tracker_spark materialize QUERY OUT_DIR [--sf-dir DIR]
    python -m tomasz_weight_tracker_spark curate DOCS_PARQUET OUT_PARQUET [--quality-min 0.35]
    python -m tomasz_weight_tracker_spark upsert BATCH_DIR TABLE_DIR --keys id[,day]
    python -m tomasz_weight_tracker_spark compact TABLE_DIR [--target-mb 128]
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="tomasz_weight_tracker_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("electricity", help="15-minute P/OP usage from a meter CSV")
    p.add_argument("meter_csv")
    p.add_argument("out_csv")
    p.add_argument("--tz", default="Europe/London")

    p = sub.add_parser("sensors", help="consolidate per-sensor daily exports")
    p.add_argument("input_dir")
    p.add_argument("out_dir")

    p = sub.add_parser("weight", help="weight .txt exports -> periodic summary CSV")
    p.add_argument("txt_glob")
    p.add_argument("out_csv")
    p.add_argument("--freq", default="W-FRI")

    p = sub.add_parser("jobsearch", help="MHTML snapshots -> grouped report")
    p.add_argument("mhtml_glob")
    p.add_argument("out_md")
    p.add_argument("--cutoff", default=None)

    p = sub.add_parser("catalog", help="run one catalog query and show it")
    p.add_argument("query")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--limit", type=int, default=20)

    p = sub.add_parser(
        "explain", help="show a catalog query's physical plan (formatted)"
    )
    p.add_argument("query")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument(
        "--mode",
        default="formatted",
        choices=["simple", "extended", "formatted", "codegen", "cost"],
    )

    p = sub.add_parser(
        "materialize", help="precompute a catalog query to parquet (with manifest)"
    )
    p.add_argument("query")
    p.add_argument("out_dir")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")

    from .operators.pipeline_text import QUALITY_MIN, TOP_TOKEN_MAX

    p = sub.add_parser(
        "curate", help="run the corpus-curation pass over a documents parquet"
    )
    p.add_argument("docs_parquet")
    p.add_argument("out_parquet")
    p.add_argument("--quality-min", type=float, default=QUALITY_MIN)
    p.add_argument("--top-token-max", type=float, default=TOP_TOKEN_MAX)

    p = sub.add_parser("upsert", help="MERGE a parquet batch into a keyed table")
    p.add_argument("batch_path")
    p.add_argument("table_path")
    p.add_argument("--keys", required=True, help="comma-separated key columns")
    p.add_argument("--partition-by", default=None, help="comma-separated partition columns")

    p = sub.add_parser("compact", help="compact a parquet table's small files")
    p.add_argument("table_path")
    p.add_argument("--target-mb", type=int, default=128)

    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from .session import get_spark

    # Only stop a session this invocation created (getOrCreate may hand
    # us the caller's session, e.g. under pytest).
    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark(f"cli-{args.cmd}")
    try:
        return run(spark, args)
    finally:
        if not preexisting:
            spark.stop()


def run(spark, args) -> int:
    from .sources.writers import write_single_csv, write_text_report

    if args.cmd == "electricity":
        from .pipelines.electricity import fifteen_minute_usage, read_meter_csv

        readings = read_meter_csv(spark, args.meter_csv)
        usage = fifteen_minute_usage(readings, tz=args.tz)
        write_single_csv(usage.coalesce(1).sortWithinPartitions("Bucket"), args.out_csv)
        print(f"wrote {args.out_csv}")
        return 0

    if args.cmd == "sensors":
        from .functions import sanitize_filename
        from .pipelines.sensors import consolidate_sensors

        for sensor, merged in consolidate_sensors(spark, args.input_dir).items():
            out = f"{args.out_dir}/{sanitize_filename(sensor)}.csv"
            # One output file: sorting its single partition needs no
            # range-sampling job, unlike a global orderBy.
            write_single_csv(merged.coalesce(1).sortWithinPartitions("Timestamp"), out)
            print(f"wrote {out}")
        return 0

    if args.cmd == "weight":
        from .pipelines.weight import (
            numeric_coercion,
            parse_weight_txt,
            periodic_summary,
            pivot_eav,
            read_txt_blobs,
        )

        eav = parse_weight_txt(read_txt_blobs(spark, args.txt_glob))
        wide = numeric_coercion(pivot_eav(eav))
        summary = periodic_summary(wide, freq=args.freq)
        write_single_csv(summary, args.out_csv)
        print(f"wrote {args.out_csv}")
        return 0

    if args.cmd == "jobsearch":
        from .pipelines.jobsearch import (
            dedup_blocks,
            grouped_report,
            parse_mhtml_snapshots,
            render_report,
        )

        blocks = dedup_blocks(parse_mhtml_snapshots(spark, args.mhtml_glob))
        grouped = grouped_report(blocks, cutoff_date=args.cutoff)
        write_text_report(render_report(grouped), args.out_md)
        print(f"wrote {args.out_md}")
        return 0

    if args.cmd == "catalog":
        from .plans import REGISTRY

        if args.query not in REGISTRY:
            print(f"unknown query; available: {', '.join(sorted(REGISTRY))}")
            return 2
        df = REGISTRY[args.query].build(spark, args.sf_dir)
        df.show(args.limit, truncate=False)
        return 0

    if args.cmd == "explain":
        from .plans import REGISTRY

        if args.query not in REGISTRY:
            print(f"unknown query; available: {', '.join(sorted(REGISTRY))}")
            return 2
        df = REGISTRY[args.query].build(spark, args.sf_dir)
        print(
            df._jdf.queryExecution().explainString(
                df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    args.mode
                )
            )
        )
        return 0

    if args.cmd == "materialize":
        from .plans import REGISTRY
        from .plans.materialized import is_fresh, read_materialized

        if args.query not in REGISTRY:
            print(f"unknown query; available: {', '.join(sorted(REGISTRY))}")
            return 2
        fresh = is_fresh(args.query, args.sf_dir, args.out_dir)
        df = read_materialized(spark, args.query, args.sf_dir, args.out_dir)
        verb = "served fresh" if fresh else "materialized"
        print(f"{verb} {args.query} ({df.count()} rows) at {args.out_dir}")
        return 0

    if args.cmd == "curate":
        from .operators.pipeline_text import curate_corpus

        docs = spark.read.parquet(args.docs_parquet)
        out = curate_corpus(
            docs, quality_min=args.quality_min, top_token_max=args.top_token_max
        )
        out.write.mode("overwrite").parquet(args.out_parquet)
        kept = spark.read.parquet(args.out_parquet).count()
        print(f"curated {args.docs_parquet}: kept {kept} docs -> {args.out_parquet}")
        return 0

    if args.cmd == "upsert":
        from .sources.writers import upsert_by_key

        batch = spark.read.parquet(args.batch_path)
        part = args.partition_by.split(",") if args.partition_by else None
        upsert_by_key(spark, batch, args.table_path, args.keys.split(","), part)
        print(f"upserted {args.batch_path} into {args.table_path}")
        return 0

    if args.cmd == "compact":
        from .sources.writers import compact_table

        n = compact_table(spark, args.table_path, args.target_mb * 1024 * 1024)
        print(f"compacted {args.table_path} to {n} file(s)")
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
