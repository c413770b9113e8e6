"""Idempotent append + dimension upsert contracts (SURVEY.md §4.2)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_python_sqlite_spark.operators.idempotent import (
    idempotent_append,
    upsert_dimension,
)

SCHEMA = T.StructType(
    [
        T.StructField("nombre", T.StringType(), False),
        T.StructField("edad", T.IntegerType(), False),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_append_then_reappend_is_noop(spark, tmp_path):
    target = str(tmp_path / "fact")
    batch = _df(spark, [("Ana", 30), ("Luis", 40)])

    r1 = idempotent_append(spark, batch, target, ["nombre", "edad"])
    assert (r1.inserted_new, r1.ignored_duplicates) == (2, 0)

    # README.md:120 contract: re-run inserts nothing, counts duplicates
    r2 = idempotent_append(spark, batch, target, ["nombre", "edad"])
    assert (r2.inserted_new, r2.ignored_duplicates) == (0, 2)
    assert spark.read.parquet(target).count() == 2


def test_intra_batch_duplicates_first_writer_wins(spark, tmp_path):
    target = str(tmp_path / "fact")
    batch = _df(spark, [("Ana", 30), ("Ana", 30), ("Luis", 40)])
    r = idempotent_append(spark, batch, target, ["nombre", "edad"])
    assert r.attempted == 3
    assert r.inserted_new == 2
    assert r.ignored_duplicates == 1


def test_partial_overlap(spark, tmp_path):
    target = str(tmp_path / "fact")
    idempotent_append(spark, _df(spark, [("Ana", 30)]), target, ["nombre", "edad"])
    r = idempotent_append(
        spark, _df(spark, [("Ana", 30), ("Eva", 22)]), target, ["nombre", "edad"]
    )
    assert (r.inserted_new, r.ignored_duplicates) == (1, 1)
    assert spark.read.parquet(target).count() == 2


def test_dimension_upsert_stable_ids(spark, tmp_path):
    dim_path = str(tmp_path / "dim")
    v1 = spark.createDataFrame([("Lima",), ("Quito",)], "nombre: string")
    d1 = upsert_dimension(spark, v1, dim_path)
    ids1 = {r["nombre"]: r["ciudad_id"] for r in d1.collect()}
    assert set(ids1.values()) == {1, 2}  # contiguous from 1

    # second batch: one known, one new city — known id must not change
    v2 = spark.createDataFrame([("Lima",), ("Bogotá",)], "nombre: string")
    d2 = upsert_dimension(spark, v2, dim_path)
    ids2 = {r["nombre"]: r["ciudad_id"] for r in d2.collect()}
    assert ids2["Lima"] == ids1["Lima"]
    assert ids2["Quito"] == ids1["Quito"]
    assert ids2["Bogotá"] == 3
    assert d2.count() == 3


def test_dimension_dedup_within_batch(spark, tmp_path):
    dim_path = str(tmp_path / "dim")
    v = spark.createDataFrame([("Lima",), ("Lima",), ("Quito",)], "nombre: string")
    d = upsert_dimension(spark, v, dim_path)
    assert d.count() == 2


def test_snapshot_diff_null_semantics(spark):
    """NULL→value and value→NULL are changes; NULL==NULL is not; missing
    keys classify as added/removed."""
    from etl_python_sqlite_spark.operators.snapshot import snapshot_diff

    a = spark.createDataFrame(
        [(1, "x"), (2, None), (3, None), (4, "gone")],
        "k long, payload string",
    )
    b = spark.createDataFrame(
        [(1, "x"), (2, "now-set"), (3, None), (5, "new")],
        "k long, payload string",
    )
    diff = snapshot_diff(a, b, keys=["k"], compare_cols=["payload"])
    got = {r["k"]: r["status"] for r in diff.collect()}
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "unchanged",
        4: "removed",
        5: "added",
    }


def test_snapshot_diff_presence_only(spark):
    """Empty compare_cols = pure added/removed/unchanged presence diff."""
    from etl_python_sqlite_spark.operators.snapshot import snapshot_diff

    a = spark.createDataFrame([(1,), (2,)], "k long")
    b = spark.createDataFrame([(2,), (3,)], "k long")
    got = {
        r["k"]: r["status"]
        for r in snapshot_diff(a, b, keys=["k"], compare_cols=[]).collect()
    }
    assert got == {1: "removed", 2: "unchanged", 3: "added"}
