"""CSV sources with csv.DictReader parity (all-string schema-on-read).

The reference reads CSVs with ``csv.DictReader`` — every value a string,
header-driven columns (reference scr/etl_from_csv.py:9-12). Spark's CSV
reader without ``inferSchema`` already yields all-string columns; we keep
that and expose per-file and multi-file scans.

Multi-file scans take their column names from a header read on the
driver (no schema-inference job) and their ``source_file`` from the
driver's file list: the scan's own path (``input_file_name()``,
``_metadata.file_name``) is URL-encoded, so ``año 2024.csv`` would read
back as ``año%202024.csv``.
"""

from __future__ import annotations

import csv
from collections.abc import Sequence
from glob import glob as _glob
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: DictReader yields '' for an empty field and None only for fields missing
#: from a short row. Spark's default nullValue="" would turn quoted empty
#: fields into null too, so we point nullValue at a sentinel that never
#: occurs in real data. An unquoted empty field still reads as null (the
#: parser maps it to nullValue); ``read_csv_files`` maps it back to ''.
_NULL_SENTINEL = "\x00\x00"

#: scan-only column Spark fills with the raw line of a row whose field
#: count differs from the header's
_CORRUPT = "_csv_corrupt_record"


def read_csv_all_string(spark: SparkSession, path: str | Path) -> DataFrame:
    """One CSV file → all-string DataFrame (DictReader semantics)."""
    return read_csv_files(spark, [Path(path)], read_header(path) or ()).drop("source_file")


def read_header(path: str | Path) -> tuple[str, ...] | None:
    """The header record Spark would take from ``path``, parsed with
    ``csv.reader`` (DictReader's parser); None when the file has none.

    Like Spark, a UTF-8 byte-order mark is dropped, leading lines that are
    blank after Java's ``trim()`` (every char ≤ U+0020) are skipped and
    undecodable bytes become U+FFFD.
    """
    with open(path, newline="", encoding="utf-8-sig", errors="replace") as fh:
        for line in fh:
            if any(ch > " " for ch in line):
                return tuple(next(csv.reader([line])))
    return None


def spark_column_names(header: Sequence[str], case_sensitive: bool = False) -> list[str]:
    """Column names Spark gives a CSV ``header`` (``CSVUtils.makeSafeHeader``):
    a blank name becomes ``_c<i>``; a name repeated (case-insensitively
    unless ``case_sensitive``) gets its index appended."""
    keys = [h if case_sensitive else h.lower() for h in header]
    dups = {k for k in keys if keys.count(k) > 1}
    return [
        f"_c{i}" if h in ("", _NULL_SENTINEL) else f"{h}{i}" if k in dups else h
        for i, (h, k) in enumerate(zip(header, keys))
    ]


def header_col(name: str) -> Column:
    """The column named ``name`` verbatim (a header name may hold dots or
    backticks, which ``F.col`` would parse)."""
    return F.col("`" + name.replace("`", "``") + "`")


def scan_csv(reader, names: Sequence[str], paths, *extra: Column) -> DataFrame:
    """A CSV scan with ``csv.DictReader`` values: ``reader`` (``spark.read``
    or ``spark.readStream``) over ``paths`` with a header line, all-string
    columns ``names`` in file order, then the ``extra`` columns.

    A doubled quote inside a quoted field reads as one quote. An empty
    field reads as '', and only a row with too few fields has
    nulls (in every column it leaves empty, a superset of the ones it
    lacks). Spark flags such rows only when the scan parses every column,
    so keep all columns in the plan: a projection that prunes some of
    them reads a short row's missing fields as ''.
    """
    schema = T.StructType([T.StructField(c, T.StringType()) for c in [*names, _CORRUPT]])
    raw = (
        reader.schema(schema)
        .option("header", True)
        # csv.reader reads a doubled quote inside a quoted field as one
        # quote; Spark's default escape is a backslash
        .option("escape", '"')
        .option("nullValue", _NULL_SENTINEL)
        .option("columnNameOfCorruptRecord", _CORRUPT)
        .csv(paths)
    )
    whole = F.col(_CORRUPT).isNull()
    values = [
        F.when(whole, F.coalesce(header_col(c), F.lit(""))).otherwise(header_col(c)).alias(c)
        for c in names
    ]
    return raw.select(*values, *extra)


def read_csv_files(
    spark: SparkSession, files: Sequence[Path], header: Sequence[str]
) -> DataFrame:
    """One scan of CSV ``files`` that share ``header`` (``scan_csv``):
    all-string columns named as Spark names them, plus ``source_file``,
    each row's on-disk file name taken from ``files``."""
    case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
    # the scan reports Hadoop's URL-encoded name; map it back to the
    # driver's name with Hadoop's own encoder
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    encoded = {
        jpath("/" + Path(f).name).toUri().getRawPath()[1:]: Path(f).name for f in files
    }
    on_disk = F.create_map(*[F.lit(s) for kv in encoded.items() for s in kv])
    return scan_csv(
        spark.read,
        spark_column_names(header, case_sensitive),
        [str(f) for f in files],
        on_disk[F.col("_metadata.file_name")].alias("source_file"),
    )


def read_csv_directory(spark: SparkSession, glob: str | Path) -> DataFrame:
    """Directory scan with per-file lineage in ``source_file``.

    Single multi-file read — the scan parallelizes across files; the
    ``source_file`` column preserves the reference's per-file audit
    granularity (scr/etl_batch.py:183-195) without a driver-side loop.
    Columns come from the first file's header and map by position, so
    the files should share one header (``pipeline.run_batch`` groups
    files by header instead).
    """
    files = sorted(Path(p) for p in _glob(str(glob)))
    if not files:
        raise FileNotFoundError(f"no CSV file matches {glob}")
    return read_csv_files(spark, files, read_header(files[0]) or ())


def list_csv_files(data_in: str | Path) -> list[Path]:
    """Sorted enumeration — reference scr/etl_batch.py:175."""
    return sorted(Path(data_in).glob("*.csv"))
