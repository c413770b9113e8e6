"""End-state parity with the reference's own fixture files.

Row data mirrors /root/reference/data/in/personas.csv:1-4 and
personas_crudas.csv:1-7 (cited, not copied code); expectations are the
reference semantics executed by hand: sorted file order
(scr/etl_batch.py:175), EDAD_MIN=25, INSERT OR IGNORE with
UNIQUE(nombre,edad,ciudad_id). The engine's surrogate ids are dense; the
reference's are not (see ``test_sqlite_replay_matches_run_batch``).
"""

from __future__ import annotations

import csv
import sqlite3
from contextlib import closing
from datetime import datetime, timezone
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_python_sqlite_spark.pipeline import PipelineConfig, run_batch

# personas.csv — clean file, but Naomi is under the age threshold
PERSONAS = [
    ["nombre", "edad", "ciudad"],
    ["Guillermo", "26", "San Luis"],
    ["Noemi", "52", "San Luis"],
    ["Naomi", "23", "San Juan"],
]

# personas_crudas.csv — the dirty file
PERSONAS_CRUDAS = [
    ["nombre", "edad", "ciudad"],
    ["  guillermo ", "26", "san luis"],
    ["NOEMI", "52", "SAN LUIS"],
    ["Naomi ", "23", " san juan"],
    ["Pedro", "error", "Querétaro"],
    ["  luis ", "30", "san juan"],
]

NOW = datetime(2024, 6, 1, 12, 0, 0, tzinfo=timezone.utc)


def _write(path: Path, rows):
    path.parent.mkdir(parents=True, exist_ok=True)
    with path.open("w", newline="", encoding="utf-8") as f:
        csv.writer(f).writerows(rows)


def test_reference_fixture_end_state(spark, tmp_path):
    cfg = PipelineConfig(
        data_in=str(tmp_path / "in"),
        data_rejected=str(tmp_path / "rejected"),
        warehouse=str(tmp_path / "wh"),
    )
    _write(Path(cfg.data_in) / "personas.csv", PERSONAS)
    _write(Path(cfg.data_in) / "personas_crudas.csv", PERSONAS_CRUDAS)

    result = run_batch(spark, cfg, now=NOW)
    by_file = {r.source_file: r for r in result.files}

    # sorted order: personas.csv processed first
    assert [r.source_file for r in result.files] == [
        "personas.csv",
        "personas_crudas.csv",
    ]
    p = by_file["personas.csv"]
    assert (p.valid_count, p.rejected_count) == (2, 1)      # Naomi: Edad < 25
    assert (p.inserted_new, p.ignored_duplicates) == (2, 0)

    c = by_file["personas_crudas.csv"]
    assert (c.valid_count, c.rejected_count) == (3, 2)
    # guillermo + NOEMI normalize onto already-loaded natural keys
    assert (c.inserted_new, c.ignored_duplicates) == (1, 2)

    # final fact ⋈ dim state = what the reference's SQLite would hold
    fact = spark.read.parquet(cfg.fact_path)
    dim = spark.read.parquet(cfg.dim_path)
    rows = {
        (r["persona_id"], r["nombre"], r["edad"], r["ciudad"])
        for r in fact.join(dim, "ciudad_id")
        .select("persona_id", fact.nombre, "edad", dim.nombre.alias("ciudad"))
        .collect()
    }
    assert rows == {
        (1, "Guillermo", 26, "San Luis"),
        (2, "Noemi", 52, "San Luis"),
        (3, "Luis", 30, "San Juan"),
    }
    # dimension: two cities, stable ids
    assert {(r["ciudad_id"], r["nombre"]) for r in dim.collect()} == {
        (1, "San Luis"),
        (2, "San Juan"),
    }

    # reject files: one per input, exact reasons
    rej_dir = Path(cfg.data_rejected)
    with (rej_dir / "rejected_personas.csv").open() as f:
        r1 = list(csv.DictReader(f))
    assert [(r["nombre"], r["motivo"]) for r in r1] == [("Naomi", "Edad < 25")]
    with (rej_dir / "rejected_personas_crudas.csv").open() as f:
        r2 = {(r["nombre"], r["motivo"]) for r in csv.DictReader(f)}
    assert r2 == {
        ("Naomi ", "Edad < 25"),
        ("Pedro", "Edad no convertible a int"),
    }


# personas_crudas plus a short row (csv.DictReader fills the missing
# ``ciudad`` with None → reference scr/etl_batch.py:55 .strip() raises →
# the coarse message)
PERSONAS_CRUDAS_BATCH = PERSONAS_CRUDAS + [["Ana", "40"]]

# header missing ``ciudad`` entirely → scr/etl_batch.py:50 issubset fails
SIN_CIUDAD = [
    ["nombre", "edad"],
    ["Bruno", "33"],
]


@pytest.mark.slow  # >8 s e2e/fuzz (default tier deselects)
def test_etl_batch_message_style_byte_parity(spark, tmp_path):
    """Replay scr/etl_batch.py:42-69 fixtures with message_style="batch"
    and assert the EXACT ``motivo`` strings that script emits: its single
    try/except collapses None-value, bad-text and bad-int failures into
    "Normalización o tipo inválido", and its missing-columns message is
    the shorter "Faltan columnas" (no "requeridas")."""
    cfg = PipelineConfig(
        data_in=str(tmp_path / "in"),
        data_rejected=str(tmp_path / "rejected"),
        warehouse=str(tmp_path / "wh"),
        message_style="batch",
    )
    _write(Path(cfg.data_in) / "personas.csv", PERSONAS)
    _write(Path(cfg.data_in) / "personas_crudas.csv", PERSONAS_CRUDAS_BATCH)
    _write(Path(cfg.data_in) / "sin_ciudad.csv", SIN_CIUDAD)

    result = run_batch(spark, cfg, now=NOW)
    by_file = {r.source_file: r for r in result.files}

    # validity split is IDENTICAL to relational style — only strings differ
    assert (by_file["personas.csv"].valid_count, by_file["personas.csv"].rejected_count) == (2, 1)
    assert (by_file["personas_crudas.csv"].valid_count, by_file["personas_crudas.csv"].rejected_count) == (3, 3)
    assert (by_file["sin_ciudad.csv"].valid_count, by_file["sin_ciudad.csv"].rejected_count) == (0, 1)

    rej_dir = Path(cfg.data_rejected)
    with (rej_dir / "rejected_personas.csv").open() as f:
        assert [(r["nombre"], r["motivo"]) for r in csv.DictReader(f)] == [
            ("Naomi", "Edad < 25")
        ]
    with (rej_dir / "rejected_personas_crudas.csv").open() as f:
        got = {(r["nombre"], r["motivo"]) for r in csv.DictReader(f)}
    assert got == {
        ("Naomi ", "Edad < 25"),
        ("Pedro", "Normalización o tipo inválido"),   # int("error")
        ("Ana", "Normalización o tipo inválido"),     # None ciudad
    }
    with (rej_dir / "rejected_sin_ciudad.csv").open() as f:
        assert {(r["nombre"], r["motivo"]) for r in csv.DictReader(f)} == {
            ("Bruno", "Faltan columnas")
        }


def test_message_style_unknown_raises(spark):
    from etl_python_sqlite_spark.operators.transform import annotate_rejections

    df = spark.createDataFrame([("a", "1", "x")], ["nombre", "edad", "ciudad"])
    with pytest.raises(KeyError):
        annotate_rejections(df, message_style="nope")


def _reference_motivo(row: dict) -> str | None:
    """The reference's relational cascade (scr/etl_relational.py:30-92) on
    one ``csv.DictReader`` row; None = valid."""
    if not {"nombre", "edad", "ciudad"} <= row.keys():
        return "Faltan columnas requeridas"
    if any(row[k] is None for k in ("nombre", "edad", "ciudad")):
        return "Valor None en campo requerido"
    try:
        edad = int(row["edad"])
    except ValueError:
        return "Edad no convertible a int"
    return "Edad < 25" if edad < 25 else None


def test_empty_fields_match_dictreader(spark, tmp_path):
    """An unquoted empty field is '' (DictReader), not None: ``ana,,rosario``
    fails the int cast, a trailing ``x,26,`` loads with an empty city, and
    only the short row ``pedro,30`` has a None value."""
    from etl_python_sqlite_spark.sources.csv import read_csv_files

    cfg = PipelineConfig(
        data_in=str(tmp_path / "in"),
        data_rejected=str(tmp_path / "rejected"),
        warehouse=str(tmp_path / "wh"),
    )
    path = Path(cfg.data_in) / "vacios.csv"
    path.parent.mkdir(parents=True)
    path.write_text(
        'nombre,edad,ciudad\nana,,rosario\npedro,30\nx,26,\nluz,"",lima\n,31,lima\n',
        encoding="utf-8",
    )
    with path.open(newline="", encoding="utf-8") as f:
        replay = list(csv.DictReader(f))

    scanned = read_csv_files(spark, [path], ("nombre", "edad", "ciudad")).drop("source_file")
    assert [r.asDict() for r in scanned.collect()] == replay

    result = run_batch(spark, cfg, now=NOW).files[0]
    want = [(r["nombre"], _reference_motivo(r)) for r in replay]
    assert (result.valid_count, result.rejected_count) == (
        sum(m is None for _, m in want),
        sum(m is not None for _, m in want),
    )
    with (Path(cfg.data_rejected) / "rejected_vacios.csv").open(newline="") as f:
        got = [(r["nombre"], r["motivo"]) for r in csv.DictReader(f)]
    assert got == [(n, m) for n, m in want if m is not None]
    fact = spark.read.parquet(cfg.fact_path)
    dim = spark.read.parquet(cfg.dim_path)
    loaded = fact.join(dim, "ciudad_id").select(fact.nombre, "edad", dim.nombre)
    assert sorted(tuple(r) for r in loaded.collect()) == sorted(
        (r["nombre"].strip().capitalize(), int(r["edad"]), r["ciudad"].strip().title())
        for r in replay
        if _reference_motivo(r) is None
    )


def test_quoted_fields_match_dictreader(spark, tmp_path):
    """A doubled quote inside a quoted field is one quote, as
    ``csv.DictReader`` reads it: the loaded fact rows and the reject
    motivos equal a DictReader replay of the reference's cascade, next
    to an empty field, a short row and a long row. The reject file reads
    back through a plain ``csv.DictReader``."""
    cfg = PipelineConfig(
        data_in=str(tmp_path / "in"),
        data_rejected=str(tmp_path / "rejected"),
        warehouse=str(tmp_path / "wh"),
    )
    path = Path(cfg.data_in) / "comillas.csv"
    path.parent.mkdir(parents=True)
    path.write_text(
        'nombre,edad,ciudad\n"say ""hi""",30,lima\n"q""",31,"san ""x"" juan"\n'
        '"ro ""sa""",20,cusco\nbruno,"x""1",lima\nana,,rosario\npedro,30\n'
        'luz,40,lima,extra\n"a,b",27,"x,y"\n',
        encoding="utf-8",
    )
    with path.open(newline="", encoding="utf-8") as f:
        replay = list(csv.DictReader(f))

    result = run_batch(spark, cfg, now=NOW).files[0]
    want = [(r["nombre"], _reference_motivo(r)) for r in replay]
    assert (result.valid_count, result.rejected_count) == (
        sum(m is None for _, m in want),
        sum(m is not None for _, m in want),
    )
    with (Path(cfg.data_rejected) / "rejected_comillas.csv").open(newline="") as f:
        rejects = csv.DictReader(f)
        got = [(r["nombre"], r["motivo"]) for r in rejects]
    assert got == [(n, m) for n, m in want if m is not None]
    fact = spark.read.parquet(cfg.fact_path)
    dim = spark.read.parquet(cfg.dim_path)
    loaded = fact.join(dim, "ciudad_id").select(fact.nombre, "edad", dim.nombre)
    assert sorted(tuple(r) for r in loaded.collect()) == sorted(
        (r["nombre"].strip().capitalize(), int(r["edad"]), r["ciudad"].strip().title())
        for r in replay
        if _reference_motivo(r) is None
    )


def test_short_row_nulls_need_every_column(spark, tmp_path):
    """With an extra column, a scan of every column still gives the short
    row ``pedro,30`` DictReader's None values. A projection that prunes
    columns cannot flag the row: its missing city reads as '' (the
    documented limit of ``sources.csv.scan_csv``; ROADMAP item 7)."""
    from etl_python_sqlite_spark.sources.csv import read_csv_all_string

    path = tmp_path / "extra.csv"
    path.write_text(
        "nombre,edad,ciudad,nota\nana,,rosario,a\npedro,30\nluz,40,lima,b\n",
        encoding="utf-8",
    )
    with path.open(newline="", encoding="utf-8") as f:
        replay = list(csv.DictReader(f))

    scanned = read_csv_all_string(spark, path)
    assert [r.asDict() for r in scanned.collect()] == replay
    narrow = scanned.select("nombre", "ciudad").collect()
    assert [tuple(r) for r in narrow] == [("ana", "rosario"), ("pedro", ""), ("luz", "lima")]


# a dirty batch: b.csv has a reordered header and repeats a.csv's Ana
# (cross-file duplicate); rows are out of key order; c.csv has a short row
REPLAY_BATCH = {
    "a.csv": "nombre,edad,ciudad\nzoe,30,rosario\n  ana ,41, lima\nbruno,x,lima\n"
    "carla,20,cusco\nANA,41,Lima\n",
    "b.csv": "ciudad,edad,nombre\nCUSCO,33,diego\nlima,41,ana\nbuenos aires,52,  eva\n",
    "c.csv": "nombre,edad,ciudad\nbeto,26,zarate\npedro,30\nzoe,30,ROSARIO\n",
}

REFERENCE_DDL = """
CREATE TABLE ciudades (
    ciudad_id INTEGER PRIMARY KEY AUTOINCREMENT,
    nombre TEXT NOT NULL UNIQUE
);
CREATE TABLE personas_limpias (
    persona_id INTEGER PRIMARY KEY AUTOINCREMENT,
    nombre TEXT NOT NULL,
    edad INTEGER NOT NULL,
    ciudad_id INTEGER NOT NULL REFERENCES ciudades(ciudad_id),
    UNIQUE(nombre, edad, ciudad_id)
);
"""


def _reference_load(con, data_in: Path) -> dict[str, tuple[int, int, int, int]]:
    """The reference's batch load (scr/etl_batch.py:123-175) in ``sqlite3``:
    files in sorted order, rows in file order, per-row city get-or-create
    and fact ``INSERT OR IGNORE``, with ``COUNT(*)`` before and after each
    file. Returns (valid, rejected, inserted, ignored) per file."""
    audit = {}
    for path in sorted(data_in.glob("*.csv")):
        with path.open(newline="", encoding="utf-8") as f:
            rows = list(csv.DictReader(f))
        valid = [
            (r["nombre"].strip().capitalize(), int(r["edad"]), r["ciudad"].strip().title())
            for r in rows
            if _reference_motivo(r) is None
        ]
        (before,) = con.execute("SELECT COUNT(*) FROM personas_limpias").fetchone()
        for nombre, edad, ciudad in valid:
            con.execute("INSERT OR IGNORE INTO ciudades(nombre) VALUES (?)", (ciudad,))
            (ciudad_id,) = con.execute(
                "SELECT ciudad_id FROM ciudades WHERE nombre = ?", (ciudad,)
            ).fetchone()
            con.execute(
                "INSERT OR IGNORE INTO personas_limpias(nombre, edad, ciudad_id)"
                " VALUES (?, ?, ?)",
                (nombre, edad, ciudad_id),
            )
        con.commit()
        (after,) = con.execute("SELECT COUNT(*) FROM personas_limpias").fetchone()
        inserted = after - before
        audit[path.name] = (len(valid), len(rows) - len(valid), inserted, len(valid) - inserted)
    return audit


@pytest.mark.slow  # >8 s e2e/fuzz (default tier deselects)
def test_sqlite_replay_matches_run_batch(spark, tmp_path):
    """``run_batch`` against the reference's own storage engine: the same
    batch loaded twice by ``run_batch`` and by a ``sqlite3`` replay of the
    reference gives the same per-file audit counts, the same fact ⋈ dim
    rows by name, and zero inserts on the re-run.

    Surrogate ids are not compared; they differ by design. The engine
    numbers new keys densely in (file, natural key) order. The reference
    numbers them in row order, and its AUTOINCREMENT spends an id on every
    ignored insert (SQLite 3.40: ``a, a, a, b`` gives ``b`` the id 4)."""
    cfg = PipelineConfig(
        data_in=str(tmp_path / "in"),
        data_rejected=str(tmp_path / "rejected"),
        warehouse=str(tmp_path / "wh"),
    )
    data_in = Path(cfg.data_in)
    data_in.mkdir(parents=True)
    for name, text in REPLAY_BATCH.items():
        (data_in / name).write_text(text, encoding="utf-8")

    with closing(sqlite3.connect(":memory:")) as con:
        con.executescript(REFERENCE_DDL)
        for run in range(2):
            want = _reference_load(con, data_in)
            got = {
                r.source_file: (
                    r.valid_count, r.rejected_count, r.inserted_new, r.ignored_duplicates
                )
                for r in run_batch(spark, cfg, now=NOW).files
            }
            assert got == want, run
        assert all(inserted == 0 for _, _, inserted, _ in want.values())
        reference_rows = con.execute(
            "SELECT p.nombre, p.edad, c.nombre FROM personas_limpias p"
            " JOIN ciudades c USING (ciudad_id)"
        ).fetchall()

    fact = spark.read.parquet(cfg.fact_path)
    dim = spark.read.parquet(cfg.dim_path)
    loaded = fact.join(dim, "ciudad_id").select(fact.nombre, "edad", dim.nombre)
    assert sorted(tuple(r) for r in loaded.collect()) == sorted(reference_rows)
