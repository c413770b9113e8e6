"""Streaming mirror tests: file-stream ETL with foreachBatch idempotent
load through the batch's load core."""

from __future__ import annotations

import csv
from datetime import datetime, timezone
from pathlib import Path

import pytest

pytestmark = pytest.mark.slow  # heavy e2e tier (pytest.ini default deselects)

from etl_python_sqlite_spark.pipeline import PipelineConfig
from etl_python_sqlite_spark.streaming.pipeline import start_stream

DIRTY = [
    ["nombre", "edad", "ciudad"],
    ["  guillermo ", "26", "san luis"],
    ["NOEMI", "52", "SAN LUIS"],
    ["Naomi ", "23", " san juan"],
]


def _write_csv(path: Path, rows):
    path.parent.mkdir(parents=True, exist_ok=True)
    with path.open("w", newline="", encoding="utf-8") as f:
        csv.writer(f).writerows(rows)


NOW = datetime(2024, 6, 1, 12, 0, 0, tzinfo=timezone.utc)


def test_stream_etl_end_to_end(spark, tmp_path):
    cfg = PipelineConfig(
        data_in=str(tmp_path / "in"),
        data_rejected=str(tmp_path / "rej"),
        warehouse=str(tmp_path / "wh"),
    )
    _write_csv(Path(cfg.data_in) / "f1.csv", DIRTY)

    q = start_stream(spark, cfg, str(tmp_path / "ckpt"), now=NOW)
    q.awaitTermination(120)

    fact = spark.read.parquet(cfg.fact_path)
    assert {(r["nombre"], r["edad"]) for r in fact.collect()} == {
        ("Guillermo", 26),
        ("Noemi", 52),
    }
    assert (Path(cfg.data_rejected) / "rejected_f1.csv").exists()

    # new file arrives (incl. a cross-batch duplicate) → second availableNow
    # run picks it up from the checkpoint; duplicate is ignored
    _write_csv(
        Path(cfg.data_in) / "f2.csv",
        [["nombre", "edad", "ciudad"], ["guillermo", "26", "San Luis"],
         ["Marta", "33", "Lima"]],
    )
    q2 = start_stream(spark, cfg, str(tmp_path / "ckpt"), now=NOW)
    q2.awaitTermination(120)

    fact = spark.read.parquet(cfg.fact_path)
    assert fact.count() == 3  # Marta added, duplicate Guillermo ignored
    audit = spark.read.parquet(cfg.audit_path)
    f2 = [r for r in audit.collect() if r["source_file"] == "f2.csv"]
    assert len(f2) == 1
    assert (f2[0]["inserted_new"], f2[0]["ignored_duplicates"]) == (1, 1)


def test_stream_per_file_audit_counts_in_one_microbatch(spark, tmp_path):
    """Two files arriving in ONE micro-batch get per-(run,file) insert
    accounting, not microbatch-global counters stamped on both rows."""
    cfg = PipelineConfig(
        data_in=str(tmp_path / "in"),
        data_rejected=str(tmp_path / "rej"),
        warehouse=str(tmp_path / "wh"),
    )
    _write_csv(
        Path(cfg.data_in) / "g1.csv",
        [["nombre", "edad", "ciudad"], ["Ana", "30", "Lima"], ["Luis", "41", "Cusco"]],
    )
    _write_csv(
        Path(cfg.data_in) / "g2.csv",
        [["nombre", "edad", "ciudad"], ["ana", "30", "LIMA"],  # dup of g1 row
         ["Marta", "33", "Lima"]],
    )

    q = start_stream(spark, cfg, str(tmp_path / "ckpt"), now=NOW)
    q.awaitTermination(120)

    audit = {r["source_file"]: r for r in spark.read.parquet(cfg.audit_path).collect()}
    g1, g2 = audit["g1.csv"], audit["g2.csv"]
    # in-batch duplicate resolves to the lexicographically first file
    assert (g1["inserted_new"], g1["ignored_duplicates"]) == (2, 0)
    assert (g2["inserted_new"], g2["ignored_duplicates"]) == (1, 1)
    assert spark.read.parquet(cfg.fact_path).count() == 3


def test_stream_empty_fields_match_batch(spark, tmp_path):
    """The stream reads CSV fields as the batch does: ``ana,,rosario`` is
    rejected for its empty age, the short row ``pedro,30`` for its missing
    city, and both runs write the same reject bytes and fact rows."""
    from etl_python_sqlite_spark.pipeline import run_batch

    text = "nombre,edad,ciudad\nana,,rosario\npedro,30\nx,26,\nluz,40,lima\n"
    out = {}
    for mode in ("batch", "stream"):
        cfg = PipelineConfig(
            data_in=str(tmp_path / mode / "in"),
            data_rejected=str(tmp_path / mode / "rej"),
            warehouse=str(tmp_path / mode / "wh"),
        )
        Path(cfg.data_in).mkdir(parents=True)
        (Path(cfg.data_in) / "f1.csv").write_text(text, encoding="utf-8")
        if mode == "batch":
            run_batch(spark, cfg, now=NOW)
        else:
            start_stream(spark, cfg, str(tmp_path / "ckpt"), now=NOW).awaitTermination(120)
        fact = spark.read.parquet(cfg.fact_path).select("persona_id", "nombre", "edad")
        out[mode] = (
            (Path(cfg.data_rejected) / "rejected_f1.csv").read_text(encoding="utf-8"),
            sorted(tuple(r) for r in fact.collect()),
        )
    assert out["stream"] == out["batch"]
    assert out["batch"][0] == (
        "nombre,edad,ciudad,motivo\n"
        'ana,"",rosario,Edad no convertible a int\n'
        'pedro,30,"",Valor None en campo requerido\n'
    )


def test_stream_and_batch_write_the_same_warehouse(spark, tmp_path):
    """One micro-batch of two files writes what ``run_batch`` writes over
    the same directory: the same dimension ids (ordered by first file,
    then key), fact rows, audit rows with their run_ids, and reject files
    under the on-disk names (``a b.csv``, not ``a%20b.csv``)."""
    from etl_python_sqlite_spark.pipeline import run_batch

    files = {
        "a b.csv": "nombre,edad,ciudad\nana,30,zarate\nbad,x,lima\n",
        "x+y.csv": "nombre,edad,ciudad\nluis,41,avellaneda\nana,30,Zarate\n",
    }
    out = {}
    for mode in ("batch", "stream"):
        cfg = PipelineConfig(
            data_in=str(tmp_path / mode / "in"),
            data_rejected=str(tmp_path / mode / "rej"),
            warehouse=str(tmp_path / mode / "wh"),
        )
        Path(cfg.data_in).mkdir(parents=True)
        for name, text in files.items():
            (Path(cfg.data_in) / name).write_text(text, encoding="utf-8")
        if mode == "batch":
            run_batch(spark, cfg, now=NOW)
        else:
            start_stream(spark, cfg, str(tmp_path / "ckpt"), now=NOW).awaitTermination(120)
        out[mode] = {
            table: sorted(tuple(r) for r in spark.read.parquet(path).collect())
            for table, path in (
                ("dim", cfg.dim_path), ("fact", cfg.fact_path), ("audit", cfg.audit_path)
            )
        }
        out[mode]["rejects"] = {
            p.name: p.read_bytes() for p in sorted(Path(cfg.data_rejected).iterdir())
        }
    assert out["stream"] == out["batch"]
    assert out["batch"]["dim"] == [(1, "Zarate"), (2, "Avellaneda")]
    assert list(out["batch"]["rejects"]) == ["rejected_a b.csv"]
    assert [r[2] for r in out["batch"]["audit"]] == ["a b.csv", "x+y.csv"]
