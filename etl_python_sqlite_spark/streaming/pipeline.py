"""Streaming mirror of the batch ETL pipeline (SURVEY §2.6 / §7 phase 6).

The reference is batch-only; its "incremental" behavior is append-with-
dedup across re-runs (reference scr/etl_incremental_audit.py:193-250).
The natural Spark upgrade is a file-arrival-driven Structured Streaming
job with identical per-batch semantics:

    readStream(csv dir) ─► motivo cascade ─► foreachBatch:
        pipeline.load_frames (the batch's load core):
            rejects  → per-file reject CSVs
            valid    → dim upsert + fact idempotent append + audit rows

A micro-batch runs the batch's own load core: ``process_microbatch``
annotates and projects its rows, and ``pipeline.load_frames`` counts,
writes rejects, loads and audits them exactly as ``run_batch`` does. The
idempotent-append contract makes micro-batch replays safe (at-least-once
delivery + first-writer-wins dedup ⇒ effectively-exactly-once on the
natural key), which is precisely why the reference's INSERT OR IGNORE
semantic translates so well to streaming. Because the core is shared, a
micro-batch also matches the batch in these three respects:

* new ``ciudad_id`` values are ordered by (first file, key);
* ``run_id`` comes from ``pipeline.make_run_id``;
* ``run_id`` and ``started_at`` come from one clock read.

This mirror is the package's only stream. No entry point starts it
(``tests/test_reachability.py`` names it as the one module no entry point
imports); ``tests/test_streaming.py`` runs it.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_python_sqlite_spark.operators.transform import annotate_rejections
from etl_python_sqlite_spark.pipeline import (
    PipelineConfig,
    load_frames,
    project_annotated,
)
from etl_python_sqlite_spark.sources.csv import scan_csv

#: the stream's columns, by position: a stream's schema is fixed up
#: front, where the batch reader takes each file's header
RAW_CSV_COLUMNS = ("nombre", "edad", "ciudad")


def stream_raw_csv(spark: SparkSession, data_in: str) -> DataFrame:
    """File-source stream over the input directory, all-string with
    ``csv.DictReader`` values like the batch reader (``scan_csv``), with
    per-file lineage. ``input_file_name()`` is URL-encoded, so the name
    is decoded back to the one on disk (a literal ``+`` kept as ``+``)."""
    name = F.element_at(F.split(F.input_file_name(), "/"), -1)
    return scan_csv(
        spark.readStream.option("maxFilesPerTrigger", 16),
        RAW_CSV_COLUMNS,
        data_in,
        F.url_decode(F.regexp_replace(name, r"\+", "%2B")).alias("source_file"),
    )


def process_microbatch(
    spark: SparkSession,
    cfg: PipelineConfig,
    batch_df: DataFrame,
    batch_id: int,
    now: datetime | None = None,
) -> None:
    """foreachBatch body: the batch's load core (``pipeline.load_frames``)
    over whatever files arrived in this micro-batch, whose columns are
    ``RAW_CSV_COLUMNS`` by position. Idempotent under replay: a
    re-delivered file inserts 0 new fact rows; an empty micro-batch
    writes nothing."""
    reject_cols = [*RAW_CSV_COLUMNS, "motivo"]
    # extra columns (source_file) pass through the cascade untouched
    ann = annotate_rejections(
        batch_df, edad_min=cfg.edad_min, message_style=cfg.message_style
    )
    load_frames(
        spark, cfg, [project_annotated(ann, reject_cols)], lambda _: reject_cols, [], now
    )


def start_stream(
    spark: SparkSession,
    cfg: PipelineConfig,
    checkpoint_dir: str,
    now: datetime | None = None,
):
    """Launch the streaming pipeline; returns the StreamingQuery.

    Checkpointing + idempotent append give effectively-exactly-once fact
    rows across restarts.
    """
    raw = stream_raw_csv(spark, cfg.data_in)
    return (
        raw.writeStream.foreachBatch(
            lambda bdf, bid: process_microbatch(spark, cfg, bdf, bid, now=now)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
