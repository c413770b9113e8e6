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

Each table is one path-parquet layout; the fact's first-writer-wins
append is ``operators.idempotent.idempotent_append``, whose anti-join
shuffles the accumulated fact once per batch.

A batch runs as one set-based pass, not a loop over its files. The
driver lists the files and reads each header with ``csv.reader``; files
that share a header are scanned and validated together. Each header
group is projected to one shared schema (``source_file, motivo,
nombre_norm, ciudad_norm, edad_int, _line``, where ``_line`` is a
reject's CSV record over its file's own columns), and the groups are
unioned into ONE persisted frame. That frame feeds one per-file count,
one partitioned reject write, one load (dimension upsert, then the
idempotent fact append, whose accounting action also reads the
``persona_id`` start) and one audit write, so the batch's Spark jobs do
not grow with its file or header count. Rows built on the driver (new
dimension keys, audit rows) enter Spark as Arrow ``LocalRelation``s
(``session.local_frame``), which start no Python worker. ``source_file``
rides along on every row, so the reference's audit contract still holds:
one row per (run, file) with its own run_id (scr/etl_batch.py:132,156-163),
and each file's counts and loaded rows match the reference's sorted
per-file loop. Surrogate ids differ by design: new ``persona_id`` and
``ciudad_id`` values are dense and ordered by (file, natural key), where
the reference numbers rows in file order and its AUTOINCREMENT spends an
id on every ignored insert (``tests/test_reference_parity.py`` replays the
reference in ``sqlite3``).

The work splits into an extract and a load core. The batch's extract
(``_process_batch``) lists the files, reads their headers and projects
each header group; the stream's (``streaming.pipeline.process_microbatch``)
projects whatever files a micro-batch holds. Both hand their frames to
``load_frames``, which counts, writes rejects, loads and audits. So
``run_batch``, ``run_directory_combined`` and the stream's
``process_microbatch`` are three entry points into one core.

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
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_python_sqlite_spark.operators.idempotent import (
    AppendResult,
    idempotent_append,
    upsert_dimension,
)
from etl_python_sqlite_spark.operators.transform import (
    annotate_rejections,
    transform_with_rejections,  # noqa: F401 - re-exported
)
from etl_python_sqlite_spark.session import local_frame
from etl_python_sqlite_spark.sources.csv import (
    header_col,
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
        .option("escape", '"')
        .csv(tmp)
    )
    part = next(Path(tmp).glob("part-*.csv"))
    Path(out_path).parent.mkdir(parents=True, exist_ok=True)
    shutil.move(str(part), str(out_path))
    shutil.rmtree(tmp)
    return n


#: Spark's CSV writer options for a reject line: raw values verbatim
#: (reference scr/etl_relational.py:97-102), not whitespace-stripped, and
#: a quote doubled as ``csv.writer`` does (Spark's default escapes it
#: with a backslash, which ``csv.reader`` does not read back)
CSV_LINE_OPTIONS = {
    "ignoreLeadingWhiteSpace": "false",
    "ignoreTrailingWhiteSpace": "false",
    "escape": '"',
}


def csv_line(names: list[str]) -> Column:
    """The columns ``names`` as one CSV record, nulls written as '': the
    line ``DataFrameWriter.csv`` writes for them."""
    values = [F.coalesce(header_col(c), F.lit("")) for c in names]
    return F.to_csv(F.struct(*values), CSV_LINE_OPTIONS)


def part_number(part: Path) -> int:
    """Task number of a Spark output file ``part-<n>-<uuid>...``; ``n``
    has five digits or more, so names alone do not sort by it."""
    return int(part.name.split("-")[1])


def write_rejects_csv_by_file(
    lines: DataFrame,
    out_dir: str | Path,
    headers: dict[str, list[str]],
    file_col: str = "source_file",
) -> None:
    """Reject sink for multi-file runs: ONE partitioned write produces
    every per-file ``rejected_<name>.csv`` (vs a driver loop of N jobs).

    ``lines`` holds ``file_col`` and ``_line``, a ``csv_line`` rendered
    record; ``headers`` maps each file with rejects to its column names
    (every file it names gets a CSV). The header rows go first in the
    union, so each file's directory holds its header part, then its rows'
    parts in scan order; the driver joins them in task order.
    """
    spark = lines.sparkSession
    by_header: dict[tuple[str, ...], list[str]] = {}
    for name, header in headers.items():
        by_header.setdefault(tuple(header), []).append(name)
    heads = []
    for header, names in by_header.items():
        cols = [f"_{i}" for i in range(len(header))]
        schema = T.StructType([T.StructField(c, T.StringType()) for c in (file_col, *cols)])
        heads.append(
            local_frame(spark, [(n, *header) for n in names], schema).select(
                file_col, csv_line(cols).alias("_line")
            )
        )
    out_dir = Path(out_dir)
    tmp = out_dir / "._spark_rejects_tmp"
    reduce(DataFrame.unionAll, [*heads, lines.select(file_col, "_line")]).write.mode(
        "overwrite"
    ).partitionBy(file_col).text(str(tmp))

    out_dir.mkdir(parents=True, exist_ok=True)
    for d in tmp.glob(f"{file_col}=*"):
        parts = sorted(d.glob("part-*"), key=part_number)
        with open(out_dir / f"rejected_{unquote(d.name.split('=', 1)[1])}", "wb") as out:
            for part in parts:
                with open(part, "rb") as src:
                    shutil.copyfileobj(src, out)
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
    # dimension upsert (set-based J3): the whole dimension comes back as a
    # driver-built frame, so the broadcast join needs no re-read
    dim = upsert_dimension(
        spark,
        valid.select(F.col("ciudad").alias("nombre"), "source_file"),
        cfg.dim_path,
        group_col="source_file",
    )
    resolved = valid.join(
        F.broadcast(dim.withColumnRenamed("nombre", "ciudad")), "ciudad"
    ).select("nombre", "edad", "ciudad_id", "source_file")

    run_id = F.create_map(*[F.lit(s) for kv in run_ids.items() for s in kv])
    batch = resolved.withColumn("processed_at", F.lit(processed_at)).withColumn(
        "run_id", run_id[F.col("source_file")]
    )
    # persona_id continues from max existing + 1, read by the append's
    # accounting action; ids go to new rows only, after the anti-join, so
    # IGNOREd duplicates consume none (the reference's AUTOINCREMENT does)
    return idempotent_append(
        spark,
        batch,
        cfg.fact_path,
        FACT_NATURAL_KEY,
        target_schema=FACT_SCHEMA,
        id_col="persona_id",
        group_col="source_file",
    )


#: columns of the one frame a batch persists, next to ``_line`` (a
#: reject's CSV line): lineage, the cascade's verdict and the normalized
#: values a load needs
_BATCH_COLUMNS = ("source_file", "motivo", "nombre_norm", "ciudad_norm", "edad_int")


def project_annotated(ann: DataFrame, reject_cols: list[str]) -> DataFrame:
    """An ``annotate_rejections`` frame in the core's schema:
    ``_BATCH_COLUMNS`` plus ``_line``, a reject's ``reject_cols`` record."""
    ok = F.col("motivo").isNull()
    return ann.select(*_BATCH_COLUMNS, F.when(~ok, csv_line(reject_cols)).alias("_line"))


def load_frames(
    spark: SparkSession,
    cfg: PipelineConfig,
    parts: list[DataFrame],
    reject_header,
    listed: list[str],
    now: datetime | None,
) -> list[tuple]:
    """The load core shared by the batch and the stream: the union of
    ``parts`` (``project_annotated`` frames) persisted once, then one
    per-file count, one reject write (``reject_header(file)`` names a
    file's reject columns), one load and one audit write. The audit
    covers the ``listed`` files and every file the count found, each
    with its own run_id from one clock read. Returns the audit rows
    (``AUDIT_SCHEMA`` order, sorted file order); no files and no rows
    write nothing."""
    now = now or datetime.now(timezone.utc)
    started_at = now.isoformat()
    ok = F.col("motivo").isNull()
    batch = reduce(DataFrame.unionAll, parts).persist() if parts else None
    try:
        counts: dict[str, tuple[int, int]] = {}
        if batch is not None:
            counts = {
                r[0]: (r[1], r[2])
                for r in batch.groupBy("source_file")
                .agg(F.count_if(ok), F.count_if(~ok))
                .collect()
            }
        run_ids = {f: make_run_id(f, now) for f in sorted({*listed, *counts})}
        if not run_ids:
            return []
        headers = {f: reject_header(f) for f, (_, n) in counts.items() if n}
        if headers:
            write_rejects_csv_by_file(batch.where(~ok), cfg.data_rejected, headers)
        loaded: dict[str, tuple[int, int]] = {}
        if any(v for v, _ in counts.values()):
            valid = batch.where(ok).select(
                F.col("nombre_norm").alias("nombre"),
                F.col("edad_int").alias("edad"),
                F.col("ciudad_norm").alias("ciudad"),
                "source_file",
            )
            res = load_file(spark, cfg, valid, run_ids, started_at)
            loaded = {g: (n, i) for g, n, i in res.per_group}
    finally:
        if batch is not None:
            batch.unpersist()

    rows = [
        (run_id, started_at, f, *counts.get(f, (0, 0)), *loaded.get(f, (0, 0)))
        for f, run_id in run_ids.items()
    ]
    # one audit file per batch, like the dimension write
    local_frame(spark, rows, AUDIT_SCHEMA).coalesce(1).write.mode("append").parquet(
        cfg.audit_path
    )
    return rows


def _process_batch(
    spark: SparkSession, cfg: PipelineConfig, now: datetime | None
) -> list[tuple]:
    """The batch's extract: list the files, read their headers, then scan,
    annotate and project each header group once; ``load_frames`` does
    the rest."""
    files = list_csv_files(cfg.data_in)
    # header-driven columns per file (a file without a header has no rows)
    groups: dict[tuple[str, ...], list[Path]] = {}
    for f in files:
        header = read_header(f)
        if header is not None:
            groups.setdefault(header, []).append(f)

    parts, reject_headers = [], {}
    for header, group in groups.items():
        ann = annotate_rejections(
            read_csv_files(spark, group, header),
            edad_min=cfg.edad_min,
            message_style=cfg.message_style,
        )
        reject_cols = [c for c in ann.columns if c not in _BATCH_COLUMNS] + ["motivo"]
        reject_headers.update((f.name, reject_cols) for f in group)
        parts.append(project_annotated(ann, reject_cols))
    return load_frames(spark, cfg, parts, reject_headers.get, [f.name for f in files], now)


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
    return local_frame(spark, _process_batch(spark, cfg, now), AUDIT_SCHEMA)


# ---------------------------------------------------------------------------
# Schema migration (S7)
# ---------------------------------------------------------------------------

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
