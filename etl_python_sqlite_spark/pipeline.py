"""The batch ETL pipeline: extract → transform/reject → load → audit.

End-to-end re-expression of the reference's flagship entry point
``etl_batch.main()`` (reference scr/etl_batch.py:174-199) plus the
incremental/migration behaviors of scr/etl_incremental_audit.py, on a
parquet warehouse:

    data_in/*.csv ─► all-string read ─► motivo cascade ─► rejects → CSV sink
                                              │
                                              └► valid ─► dim upsert (set-based)
                                                     ─► fact idempotent append
                                                     ─► audit row (etl_runs)

Tables (warehouse_dir/):
    ciudades/          ciudad_id, nombre                    (dim)
    personas_limpias/  persona_id, nombre, edad, ciudad_id,
                       processed_at, run_id                 (fact)
    etl_runs/          run_id, started_at, source_file, valid_count,
                       rejected_count, inserted_new, ignored_duplicates

A batch runs as one set-based pass, not a loop over its files. The
driver lists the files and reads each header with ``csv.reader``; files
that share a header are scanned together, validated together and their
rejects written in one partitioned write. The valid rows of all files
then meet one dimension upsert, one ``max(persona_id)``, one idempotent
append and one audit write. ``source_file`` rides along on every row, so
the reference's audit contract still holds: one row per (run, file) with
its own run_id (scr/etl_batch.py:132,156-163), and new ``persona_id`` and
``ciudad_id`` values come out exactly as the reference's sorted per-file
loop assigns them. ``run_batch`` and ``run_directory_combined`` are two
entry points into this one core.

Two intended differences from a per-file loop:

* one batch stamps one ``started_at`` (and run_id timestamp) on all of
  its files; run_id stays unique per (run, file) through the file name;
* dimension, fact and audit commit once per batch, not once per file.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass, field
from datetime import datetime, timezone
from functools import reduce
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_python_sqlite_spark.operators.idempotent import (
    AppendResult,
    idempotent_append,
    upsert_dimension,
)
from etl_python_sqlite_spark.operators.transform import (
    annotate_rejections,
    split_rejections,
    transform_with_rejections,  # noqa: F401 - re-exported
)
from etl_python_sqlite_spark.sources.csv import (
    list_csv_files,
    read_csv_all_string,  # noqa: F401 - re-exported
    read_csv_files,
    read_header,
)

FACT_SCHEMA = T.StructType(
    [
        T.StructField("persona_id", T.LongType(), True),
        T.StructField("nombre", T.StringType(), False),
        T.StructField("edad", T.IntegerType(), False),
        T.StructField("ciudad_id", T.LongType(), False),
        T.StructField("processed_at", T.StringType(), False),
        T.StructField("run_id", T.StringType(), False),
    ]
)

AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("started_at", T.StringType(), False),
        T.StructField("source_file", T.StringType(), False),
        T.StructField("valid_count", T.LongType(), False),
        T.StructField("rejected_count", T.LongType(), False),
        T.StructField("inserted_new", T.LongType(), False),
        T.StructField("ignored_duplicates", T.LongType(), False),
    ]
)

#: natural key = idempotency contract (UNIQUE(nombre,edad,ciudad_id),
#: reference scr/etl_batch.py:100)
FACT_NATURAL_KEY = ["nombre", "edad", "ciudad_id"]

MIGRATION_BACKFILL_TS = "1970-01-01T00:00:00Z"
MIGRATION_BACKFILL_RUN = "MIGRATION"


def make_run_id(source_file: str, now: datetime | None = None) -> str:
    """UTC µs timestamp + sanitized filename — reference scr/etl_batch.py:24-28.

    ``now`` injectable for deterministic tests.
    """
    ts = (now or datetime.now(timezone.utc)).strftime("%Y%m%dT%H%M%S%fZ")
    safe = "".join(ch if ch.isalnum() else "_" for ch in source_file)
    return f"{ts}_{safe}"


@dataclass
class PipelineConfig:
    data_in: str
    data_rejected: str
    warehouse: str
    edad_min: int = 25
    #: catalog table name for the fact — when set, the warehouse default is
    #: the BUCKETED layout (``idempotent_append_bucketed``): the accumulated
    #: fact is bucketed by the natural key, so each batch's anti-join
    #: consumes the bucket layout with NO exchange over the target. This is
    #: the 100 TB path; the path-parquet layout (``fact_table=None``) stays
    #: as the zero-setup default for small warehouses.
    fact_table: str | None = None
    fact_buckets: int = 16
    #: which reference script's reject strings to reproduce byte-for-byte:
    #: "relational" (scr/etl_relational.py:30-92, granular per-failure
    #: messages) or "batch" (scr/etl_batch.py:48-64, whose single
    #: try/except collapses None/text/int failures into one message).
    message_style: str = "relational"

    @property
    def dim_path(self) -> str:
        return str(Path(self.warehouse) / "ciudades")

    @property
    def fact_path(self) -> str:
        return str(Path(self.warehouse) / "personas_limpias")

    @property
    def audit_path(self) -> str:
        return str(Path(self.warehouse) / "etl_runs")


def _fact_exists(spark: SparkSession, cfg: PipelineConfig) -> bool:
    if cfg.fact_table is not None:
        return spark.catalog.tableExists(cfg.fact_table)
    return Path(cfg.fact_path).exists()


def read_fact(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """The accumulated fact table under either warehouse layout."""
    if not _fact_exists(spark, cfg):
        return spark.createDataFrame([], FACT_SCHEMA)
    if cfg.fact_table is not None:
        return spark.table(cfg.fact_table)
    return spark.read.schema(FACT_SCHEMA).parquet(cfg.fact_path)


def _append_fact(
    spark: SparkSession,
    cfg: PipelineConfig,
    batch: DataFrame,
    id_start: int,
    group_col: str | None = None,
):
    """Route a fact batch to the configured warehouse layout."""
    if cfg.fact_table is not None:
        from etl_python_sqlite_spark.operators.idempotent import (
            idempotent_append_bucketed,
        )

        return idempotent_append_bucketed(
            spark,
            batch,
            cfg.fact_table,
            FACT_NATURAL_KEY,
            buckets=cfg.fact_buckets,
            target_schema=FACT_SCHEMA,
            id_col="persona_id",
            id_start=id_start,
            group_col=group_col,
        )
    return idempotent_append(
        spark,
        batch,
        cfg.fact_path,
        FACT_NATURAL_KEY,
        target_schema=FACT_SCHEMA,
        id_col="persona_id",
        id_start=id_start,
        group_col=group_col,
    )


@dataclass
class FileRunResult:
    source_file: str
    run_id: str
    valid_count: int
    rejected_count: int
    inserted_new: int
    ignored_duplicates: int


@dataclass
class BatchResult:
    files: list[FileRunResult] = field(default_factory=list)


def write_rejects_csv(rejects: DataFrame, out_path: str | Path) -> int:
    """Reject sink: header CSV, raw columns + motivo — reference
    scr/etl_relational.py:97-102. Returns reject count.

    Written as a single CSV file (coalesce(1)) for reference parity —
    rejects are a small fraction by contract; at scale drop the coalesce
    and write a directory.
    """
    n = rejects.count()
    if not n:
        return 0
    tmp = str(out_path) + "._spark_tmp"
    (
        rejects.coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        # Spark's CSV WRITER strips cell whitespace by default; the reference
        # writes the original raw values verbatim (scr/etl_relational.py:97-102)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(tmp)
    )
    part = next(Path(tmp).glob("part-*.csv"))
    Path(out_path).parent.mkdir(parents=True, exist_ok=True)
    shutil.move(str(part), str(out_path))
    shutil.rmtree(tmp)
    return n


def write_rejects_csv_by_file(
    rejects: DataFrame, out_dir: str | Path, file_col: str = "source_file"
) -> None:
    """Reject sink for multi-file runs: ONE partitioned write produces
    every per-file ``rejected_<name>.csv`` (vs a driver loop of N jobs).
    ``partitionBy`` routes each source file's rows to its own directory;
    ``repartition(file_col)`` guarantees exactly one part file (hence
    exactly one CSV header) per source file. A file without rejects gets
    no partition, hence no CSV.
    """
    out_dir = Path(out_dir)
    tmp = str(out_dir / "._spark_rejects_tmp")
    (
        rejects.repartition(F.col(file_col))
        .write.mode("overwrite")
        .option("header", True)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .partitionBy(file_col)
        .csv(tmp)
    )
    from urllib.parse import unquote

    out_dir.mkdir(parents=True, exist_ok=True)
    for d in Path(tmp).glob(f"{file_col}=*"):
        fname = unquote(d.name.split("=", 1)[1])
        part = next(d.glob("part-*.csv"))
        shutil.move(str(part), str(out_dir / f"rejected_{fname}"))
    shutil.rmtree(tmp)


def load_file(
    spark: SparkSession,
    cfg: PipelineConfig,
    valid: DataFrame,
    run_ids: dict[str, str],
    processed_at: str,
) -> AppendResult:
    """Load a batch's valid rows (``nombre, edad, ciudad, source_file``) —
    reference ``load_batch`` (scr/etl_batch.py:123-168), set-based over
    every file at once. Returns the fact append's ``AppendResult``, whose
    ``per_group`` holds each file's inserted/ignored counts."""
    # dimension upsert (set-based J3) + broadcast key resolution
    dim = upsert_dimension(
        spark,
        valid.select(F.col("ciudad").alias("nombre"), "source_file"),
        cfg.dim_path,
        group_col="source_file",
    )
    resolved = valid.join(
        F.broadcast(dim.withColumnRenamed("nombre", "ciudad")), "ciudad"
    ).select("nombre", "edad", "ciudad_id", "source_file")

    # surrogate persona_id start: AUTOINCREMENT parity — max existing + 1;
    # ids are assigned inside idempotent_append AFTER the anti-join so
    # IGNOREd duplicates don't consume ids (dense like SQLite)
    start = 1
    if _fact_exists(spark, cfg):
        start += read_fact(spark, cfg).agg(F.max("persona_id")).first()[0] or 0
    run_id = F.create_map(*[F.lit(s) for kv in run_ids.items() for s in kv])
    batch = resolved.withColumn("processed_at", F.lit(processed_at)).withColumn(
        "run_id", run_id[F.col("source_file")]
    )
    return _append_fact(spark, cfg, batch, id_start=start, group_col="source_file")


def _process_batch(
    spark: SparkSession, cfg: PipelineConfig, now: datetime | None
) -> list[tuple]:
    """The batch core: scan, validate and route rejects once per header
    group, load once for the batch, append one audit row per file.
    Returns the audit rows (``AUDIT_SCHEMA`` order, sorted file order)."""
    files = list_csv_files(cfg.data_in)
    if not files:
        return []
    now = now or datetime.now(timezone.utc)
    started_at = now.isoformat()
    run_ids = {f.name: make_run_id(f.name, now) for f in files}

    # header-driven columns per file (a file without a header has no rows)
    groups: dict[tuple[str, ...], list[Path]] = {}
    for f in files:
        header = read_header(f)
        if header is not None:
            groups.setdefault(header, []).append(f)

    # persist: rejects, counts and load all read each group's annotation
    anns = [
        annotate_rejections(
            read_csv_files(spark, group, header),
            edad_min=cfg.edad_min,
            message_style=cfg.message_style,
        ).persist()
        for header, group in groups.items()
    ]
    counts: dict[str, tuple[int, int]] = {}
    loaded: dict[str, tuple[int, int]] = {}
    try:
        valids = []
        for ann in anns:
            valid, rejects = split_rejections(ann, keep=("source_file",))
            write_rejects_csv_by_file(rejects, cfg.data_rejected)
            valids.append(valid)
        if anns:
            flags = reduce(
                DataFrame.unionAll,
                [a.select("source_file", F.col("motivo").isNull().alias("ok")) for a in anns],
            )
            counts = {
                r[0]: (r[1], r[2])
                for r in flags.groupBy("source_file")
                .agg(F.count_if("ok"), F.count_if(~F.col("ok")))
                .collect()
            }
        if any(v for v, _ in counts.values()):
            res = load_file(
                spark, cfg, reduce(DataFrame.unionAll, valids), run_ids, started_at
            )
            loaded = {g: (n, i) for g, n, i in res.per_group}
    finally:
        for ann in anns:
            ann.unpersist()

    rows = [
        (run_ids[f.name], started_at, f.name,
         *counts.get(f.name, (0, 0)), *loaded.get(f.name, (0, 0)))
        for f in files
    ]
    spark.createDataFrame(rows, AUDIT_SCHEMA).write.mode("append").parquet(cfg.audit_path)
    return rows


def run_batch(
    spark: SparkSession, cfg: PipelineConfig, now: datetime | None = None
) -> BatchResult:
    """Process every CSV in ``cfg.data_in`` — reference ``etl_batch.main()``
    (scr/etl_batch.py:174-199) — as one batch; results in sorted file
    order."""
    rows = _process_batch(spark, cfg, now)
    return BatchResult([FileRunResult(r[2], r[0], *r[3:]) for r in rows])


def run_directory_combined(
    spark: SparkSession, cfg: PipelineConfig, now: datetime | None = None
) -> DataFrame:
    """``run_batch`` returning the audit rows it appended as a DataFrame."""
    return spark.createDataFrame(_process_batch(spark, cfg, now), AUDIT_SCHEMA)


# ---------------------------------------------------------------------------
# Schema introspection + migration (S7/S8)
# ---------------------------------------------------------------------------

def table_has_column(spark: SparkSession, path: str, col: str) -> bool:
    """PRAGMA table_info parity — reference scr/etl_incremental_audit.py:106-109."""
    try:
        return col in spark.read.parquet(path).columns
    except Exception:
        return False


def migrate_fact_if_needed(spark: SparkSession, fact_path: str) -> bool:
    """Add lineage columns to a legacy fact table, backfilling
    ``1970-01-01T00:00:00Z`` / ``MIGRATION`` — reference
    scr/etl_incremental_audit.py:112-155 (create-copy-drop-rename, here a
    rewrite + atomic directory swap). Returns True if migration ran.
    """
    if not Path(fact_path).exists():
        return False
    old = spark.read.parquet(fact_path)
    if "processed_at" in old.columns and "run_id" in old.columns:
        return False

    migrated = old
    if "processed_at" not in old.columns:
        migrated = migrated.withColumn("processed_at", F.lit(MIGRATION_BACKFILL_TS))
    if "run_id" not in migrated.columns:
        migrated = migrated.withColumn("run_id", F.lit(MIGRATION_BACKFILL_RUN))
    migrated = migrated.select([f.name for f in FACT_SCHEMA.fields])

    tmp = fact_path + "._migrating"
    migrated.write.mode("overwrite").parquet(tmp)
    bak = fact_path + "._pre_migration"
    shutil.move(fact_path, bak)
    shutil.move(tmp, fact_path)
    shutil.rmtree(bak)
    return True
