"""Executable entry point — the reference's ``python scr/etl_batch.py``
UX on Spark (reference scr/etl_batch.py:174-199):

    python -m etl_python_sqlite_spark --data-in data/in \\
        --warehouse warehouse --data-rejected data/rejected

Runs the full batch pipeline (extract → motivo cascade → idempotent
load → audit, one pass over the batch) and prints the per-file audit
summary the reference logs. A user of the reference can point this at the
same CSV directory and get the same end state (parquet instead of SQLite).
"""

from __future__ import annotations

import argparse


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="etl_python_sqlite_spark",
        description="Batch CSV ETL (reference etl_batch.main parity) on Spark",
    )
    p.add_argument("--data-in", required=True, help="directory of input CSVs")
    p.add_argument("--data-rejected", required=True, help="reject CSV sink dir")
    p.add_argument("--warehouse", required=True, help="parquet warehouse dir")
    p.add_argument("--edad-min", type=int, default=25)
    p.add_argument(
        "--message-style",
        choices=["relational", "batch"],
        default="relational",
        help="which reference script's reject strings to reproduce",
    )
    p.add_argument(
        "--fact-table",
        default=None,
        help="catalog table name — enables the bucketed 100 TB layout",
    )
    p.add_argument("--master", default="local[*]")
    p.add_argument("--shuffle-partitions", default="32")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from etl_python_sqlite_spark.pipeline import PipelineConfig, run_batch
    from etl_python_sqlite_spark.session import get_spark

    # get_spark joins an already-active session (embedding callers,
    # tests); only stop what we actually created
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(master=args.master, shuffle_partitions=int(args.shuffle_partitions))
    try:
        cfg = PipelineConfig(
            data_in=args.data_in,
            data_rejected=args.data_rejected,
            warehouse=args.warehouse,
            edad_min=args.edad_min,
            message_style=args.message_style,
            fact_table=args.fact_table,
        )
        result = run_batch(spark, cfg)
        for f in result.files:
            print(
                f"{f.source_file}: inserted={f.inserted_new} "
                f"ignored={f.ignored_duplicates} rejected={f.rejected_count}"
            )
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
