"""Validation / normalization with reject routing (the `motivo` cascade).

Re-expresses the reference's row-loop ``transform_with_rejections``
(reference scr/etl_relational.py:18-94, scr/etl_batch.py:42-69) as a single
DataFrame lineage evaluated once:

    raw ──► withColumn(motivo = first-failing-check) ──► filter(motivo IS NULL)  → valid
                                              └────────► filter(motivo IS NOT NULL) → rejects

Check order is the reference's and must be preserved exactly (first
failure wins): required columns → None value → text normalization →
int cast → business rule. A ``when().when()…`` cascade evaluates in
order, so the first satisfied predicate supplies the reason.

Scale notes: the cascade is pure column expressions — narrow, no shuffle,
fully inside whole-stage codegen; both outputs share one scan (Spark reuses
the cached/exchange-free subplan, and at 100 TB each side still reads the
source once per action — callers that need both sides materialized should
write them in one pass or persist the annotated frame).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_python_sqlite_spark.functions.normalize import (
    py_capitalize,
    py_title,
    strict_int,
)

REQUIRED_COLS = ("nombre", "edad", "ciudad")

#: Exact reject messages, reference scr/etl_relational.py:30-92 (granular:
#: each failure mode has its own message).
REJECT_REASONS = {
    "missing_cols": "Faltan columnas requeridas",
    "none_value": "Valor None en campo requerido",
    "bad_text": "Error al normalizar texto",
    "bad_int": "Edad no convertible a int",
    "underage": "Edad < {edad_min}",
}

#: Exact reject messages, reference scr/etl_batch.py:48-64 (coarse: ONE
#: try wraps normalize+cast, so a None value, a non-normalizable text and
#: a bad int all collapse into the same message).
REJECT_REASONS_BATCH = {
    "missing_cols": "Faltan columnas",
    "none_value": "Normalización o tipo inválido",
    "bad_text": "Normalización o tipo inválido",
    "bad_int": "Normalización o tipo inválido",
    "underage": "Edad < {edad_min}",
}

#: message_style → message set. "relational" = scr/etl_relational.py,
#: "batch" = scr/etl_batch.py. The cascade ORDER is identical in both
#: scripts; only the strings differ.
MESSAGE_STYLES = {
    "relational": REJECT_REASONS,
    "batch": REJECT_REASONS_BATCH,
}


def annotate_rejections(
    raw: DataFrame,
    edad_min: int = 25,
    required_cols: tuple[str, ...] = REQUIRED_COLS,
    message_style: str = "relational",
) -> DataFrame:
    """Add ``motivo`` (NULL = valid) plus normalized columns to ``raw``.

    ``raw`` carries all-string columns (CSV schema-on-read). Missing
    required *columns* are a dataset-level property on Spark (CSV rows are
    uniform per file) — handled by tagging every row, mirroring the
    per-row check at reference scr/etl_relational.py:33 which fires for
    all rows of a malformed file.

    ``message_style`` selects which reference script's reject strings a
    replay produces byte-for-byte: "relational" (granular, the default) or
    "batch" (scr/etl_batch.py's single try collapses None/text/int
    failures into "Normalización o tipo inválido"). Validity is identical
    under both styles — only the ``motivo`` strings differ.
    """
    reasons = MESSAGE_STYLES[message_style]
    missing_dataset_cols = [c for c in required_cols if c not in raw.columns]
    df = raw
    for c in missing_dataset_cols:
        df = df.withColumn(c, F.lit(None).cast("string"))

    nombre_norm = py_capitalize("nombre")
    ciudad_norm = py_title("ciudad")
    edad_int = strict_int("edad")

    # Text normalization via pure string expressions cannot throw on a
    # string column, so the reference's "Error al normalizar texto" branch
    # (scr/etl_relational.py:57-67: only non-str raw values raise) maps to
    # "no such row" for CSV input; the branch is kept for schema parity
    # with non-string raw sources.
    motivo = (
        F.when(
            F.lit(bool(missing_dataset_cols)), F.lit(reasons["missing_cols"])
        )
        .when(
            F.col("nombre").isNull()
            | F.col("edad").isNull()
            | F.col("ciudad").isNull(),
            F.lit(reasons["none_value"]),
        )
        .when(edad_int.isNull(), F.lit(reasons["bad_int"]))
        .when(edad_int < edad_min, F.lit(reasons["underage"].format(edad_min=edad_min)))
        .otherwise(F.lit(None).cast("string"))
    )

    return (
        df.withColumn("motivo", motivo)
        .withColumn("nombre_norm", nombre_norm)
        .withColumn("ciudad_norm", ciudad_norm)
        .withColumn("edad_int", edad_int)
    )


def transform_with_rejections(
    raw: DataFrame,
    edad_min: int = 25,
    message_style: str = "relational",
) -> tuple[DataFrame, DataFrame]:
    """Split ``raw`` into (valid, rejects) — reference scr/etl_batch.py:42-69.

    valid:   ``nombre, edad, ciudad`` — normalized, typed (int edad).
    rejects: original raw string columns + ``motivo``.
    """
    return split_rejections(
        annotate_rejections(raw, edad_min=edad_min, message_style=message_style)
    )


def split_rejections(
    annotated: DataFrame, keep: tuple[str, ...] = ()
) -> tuple[DataFrame, DataFrame]:
    """(valid, rejects) of an ``annotate_rejections`` frame; the ``keep``
    columns (lineage such as ``source_file``) ride along on the valid side
    and stay among the raw columns on the reject side."""
    valid = (
        annotated.filter(F.col("motivo").isNull())
        .select(
            F.col("nombre_norm").alias("nombre"),
            F.col("edad_int").alias("edad"),
            F.col("ciudad_norm").alias("ciudad"),
            *keep,
        )
    )
    raw_cols = [c for c in annotated.columns if c not in ("motivo", "nombre_norm", "ciudad_norm", "edad_int")]
    rejects = (
        annotated.filter(F.col("motivo").isNotNull())
        .select(*[F.coalesce(F.col(c), F.lit("")).alias(c) for c in raw_cols], "motivo")
    )
    return valid, rejects
