"""End-to-end batch pipeline vs the reference's etl_batch.main() contract."""

from __future__ import annotations

import csv
from datetime import datetime, timezone
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_python_sqlite_spark.pipeline import (
    AUDIT_SCHEMA,
    FACT_SCHEMA,
    PipelineConfig,
    make_run_id,
    migrate_fact_if_needed,
    run_batch,
    run_directory_combined,
)

DIRTY = [
    ["nombre", "edad", "ciudad"],
    ["  guillermo ", "26", "san luis"],
    ["NOEMI", "52", "SAN LUIS"],
    ["Naomi ", "23", " san juan"],
    ["Pedro", "error", "Querétaro"],
    ["sofia", "29", "san luis"],
]

CLEAN = [
    ["nombre", "edad", "ciudad"],
    ["Marta", "33", "Lima"],
    ["guillermo", "26", "San Luis"],   # post-normalization dupe of DIRTY row 1
]


def _write_csv(path: Path, rows):
    path.parent.mkdir(parents=True, exist_ok=True)
    with path.open("w", newline="", encoding="utf-8") as f:
        csv.writer(f).writerows(rows)


@pytest.fixture()
def cfg(tmp_path):
    c = PipelineConfig(
        data_in=str(tmp_path / "in"),
        data_rejected=str(tmp_path / "rejected"),
        warehouse=str(tmp_path / "wh"),
    )
    _write_csv(Path(c.data_in) / "a_dirty.csv", DIRTY)
    _write_csv(Path(c.data_in) / "b_clean.csv", CLEAN)
    return c


NOW = datetime(2024, 6, 1, 12, 0, 0, tzinfo=timezone.utc)


def test_run_id_format():
    rid = make_run_id("archivo final.csv", NOW)
    assert rid == "20240601T120000000000Z_archivo_final_csv"


def test_batch_end_to_end(spark, cfg):
    result = run_batch(spark, cfg, now=NOW)
    by_file = {r.source_file: r for r in result.files}

    a = by_file["a_dirty.csv"]
    assert (a.valid_count, a.rejected_count) == (3, 2)
    assert (a.inserted_new, a.ignored_duplicates) == (3, 0)

    b = by_file["b_clean.csv"]
    assert (b.valid_count, b.rejected_count) == (2, 0)
    # 'guillermo,26,San Luis' normalizes to the same natural key as the
    # dirty file's first row → ignored as cross-file duplicate
    assert (b.inserted_new, b.ignored_duplicates) == (1, 1)

    fact = spark.read.parquet(cfg.fact_path)
    assert fact.count() == 4
    # lineage columns attached
    assert {"processed_at", "run_id"} <= set(fact.columns)
    # AUTOINCREMENT parity: dense ids — IGNOREd duplicates consume none
    assert sorted(r["persona_id"] for r in fact.collect()) == [1, 2, 3, 4]

    # reject CSV written with motivo, one per dirty file only
    rej = Path(cfg.data_rejected)
    assert (rej / "rejected_a_dirty.csv").exists()
    assert not (rej / "rejected_b_clean.csv").exists()
    with (rej / "rejected_a_dirty.csv").open() as f:
        rows = list(csv.DictReader(f))
    assert {r["motivo"] for r in rows} == {"Edad < 25", "Edad no convertible a int"}
    # raw values preserved verbatim (incl. whitespace) like the reference
    naomi = next(r for r in rows if r["motivo"] == "Edad < 25")
    assert naomi["nombre"] == "Naomi " and naomi["ciudad"] == " san juan"

    # audit table: one row per file with the same metrics
    audit = {r["source_file"]: r for r in spark.read.parquet(cfg.audit_path).collect()}
    assert audit["a_dirty.csv"]["inserted_new"] == 3
    assert audit["b_clean.csv"]["ignored_duplicates"] == 1


@pytest.mark.slow  # >8 s e2e/fuzz (default tier deselects)
def test_rerun_is_idempotent(spark, cfg):
    run_batch(spark, cfg, now=NOW)
    result2 = run_batch(spark, cfg, now=NOW)
    assert all(r.inserted_new == 0 for r in result2.files)
    assert all(r.ignored_duplicates == r.valid_count for r in result2.files)
    assert spark.read.parquet(cfg.fact_path).count() == 4
    # audit keeps appending: 2 files × 2 runs
    assert spark.read.parquet(cfg.audit_path).count() == 4


def test_dim_fact_join_roundtrip(spark, cfg):
    """The reference's validation join (scr/etl_relational.py:182-194)."""
    run_batch(spark, cfg, now=NOW)
    fact = spark.read.parquet(cfg.fact_path)
    dim = spark.read.parquet(cfg.dim_path)
    joined = (
        fact.join(F.broadcast(dim), "ciudad_id")
        .select("persona_id", fact.nombre, "edad", dim.nombre.alias("ciudad"))
        .orderBy("persona_id")
    )
    got = {(r["nombre"], r["edad"], r["ciudad"]) for r in joined.collect()}
    assert got == {
        ("Guillermo", 26, "San Luis"),
        ("Noemi", 52, "San Luis"),
        ("Sofia", 29, "San Luis"),
        ("Marta", 33, "Lima"),
    }


def test_migration_backfill(spark, tmp_path):
    """Legacy fact without lineage columns gains them with reference
    backfill values (scr/etl_incremental_audit.py:144-151)."""
    fact_path = str(tmp_path / "fact_legacy")
    legacy = spark.createDataFrame(
        [(1, "Ana", 30, 1)], "persona_id long, nombre string, edad int, ciudad_id long"
    )
    legacy.write.parquet(fact_path)

    assert migrate_fact_if_needed(spark, fact_path) is True
    migrated = spark.read.parquet(fact_path)
    row = migrated.first()
    assert row["processed_at"] == "1970-01-01T00:00:00Z"
    assert row["run_id"] == "MIGRATION"
    # idempotent: second call is a no-op
    assert migrate_fact_if_needed(spark, fact_path) is False


def test_combined_directory_run_matches_per_file(spark, cfg, tmp_path):
    """The scale-path single-scan variant produces the same warehouse state
    AND the same per-(run,file) audit/reject contract as the driver loop."""
    audit = run_directory_combined(spark, cfg, now=NOW)
    fact = spark.read.parquet(cfg.fact_path)
    assert fact.count() == 4
    rows = {r["source_file"]: r for r in audit.collect()}
    assert rows["a_dirty.csv"]["valid_count"] == 3
    assert rows["a_dirty.csv"]["rejected_count"] == 2
    assert rows["b_clean.csv"]["valid_count"] == 2

    # per-FILE insert accounting (not batch-global stamped on every row):
    # the cross-file duplicate resolves to the first file in sorted order
    a, b = rows["a_dirty.csv"], rows["b_clean.csv"]
    assert (a["inserted_new"], a["ignored_duplicates"]) == (3, 0)
    assert (b["inserted_new"], b["ignored_duplicates"]) == (1, 1)

    # rejects routed per source file, raw values verbatim
    rej = Path(cfg.data_rejected)
    assert (rej / "rejected_a_dirty.csv").exists()
    assert not (rej / "rejected_b_clean.csv").exists()
    with (rej / "rejected_a_dirty.csv").open() as f:
        rrows = list(csv.DictReader(f))
    assert {r["motivo"] for r in rrows} == {"Edad < 25", "Edad no convertible a int"}
    naomi = next(r for r in rrows if r["motivo"] == "Edad < 25")
    assert naomi["nombre"] == "Naomi " and naomi["ciudad"] == " san juan"


@pytest.mark.slow  # >8 s e2e/fuzz (default tier deselects)
def test_bucketed_warehouse_run_batch_parity(spark, tmp_path):
    """fact_table set → the warehouse default is the bucketed catalog
    layout: same end state and audit metrics as the path layout, and the
    per-batch anti-join consumes the bucket layout (no Exchange over the
    accumulated fact)."""
    from pyspark.sql import functions as F

    spark.sql("DROP TABLE IF EXISTS personas_limpias_bt")
    cfg = PipelineConfig(
        data_in=str(tmp_path / "in"),
        data_rejected=str(tmp_path / "rejected"),
        warehouse=str(tmp_path / "wh"),
        fact_table="personas_limpias_bt",
        fact_buckets=4,
    )
    _write_csv(Path(cfg.data_in) / "a_dirty.csv", DIRTY)
    _write_csv(Path(cfg.data_in) / "b_clean.csv", CLEAN)

    result = run_batch(spark, cfg, now=NOW)
    by_file = {r.source_file: r for r in result.files}
    assert (by_file["a_dirty.csv"].inserted_new, by_file["a_dirty.csv"].ignored_duplicates) == (3, 0)
    assert (by_file["b_clean.csv"].inserted_new, by_file["b_clean.csv"].ignored_duplicates) == (1, 1)

    fact = spark.table(cfg.fact_table)
    assert fact.count() == 4
    assert sorted(r["persona_id"] for r in fact.collect()) == [1, 2, 3, 4]

    # idempotent re-run against the bucketed table
    result2 = run_batch(spark, cfg, now=NOW)
    assert all(r.inserted_new == 0 for r in result2.files)
    assert spark.table(cfg.fact_table).count() == 4

    # plan assertion: anti-join's TARGET side reads the bucket layout with
    # no Exchange — only the tiny probe batch shuffles
    probe = (
        spark.createDataFrame([("Zoe", 28, 1)], "nombre string, edad int, ciudad_id long")
        .hint("merge")
        .join(
            spark.table(cfg.fact_table).select("nombre"),
            on="nombre",
            how="left_anti",
        )
    )
    probe.collect()
    final_plan = (
        probe._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    )
    assert "Bucketed: true" in final_plan
    assert final_plan.count("Exchange hashpartitioning") == 1, final_plan[:800]
    spark.sql("DROP TABLE IF EXISTS personas_limpias_bt")


def test_edge_empty_and_all_reject_files(spark, tmp_path):
    """Header-only files and 100%-reject files must flow through without
    errors, with correct audit metrics. A blank header name reads as
    ``_c<i>`` and a repeated one (case-insensitively) as ``<name><i>``,
    Spark's header naming, so both files miss a required column."""
    cfg = PipelineConfig(
        data_in=str(tmp_path / "in"),
        data_rejected=str(tmp_path / "rej"),
        warehouse=str(tmp_path / "wh"),
    )
    _write_csv(Path(cfg.data_in) / "empty.csv", [["nombre", "edad", "ciudad"]])
    _write_csv(
        Path(cfg.data_in) / "allbad.csv",
        [["nombre", "edad", "ciudad"], ["A", "error", "X"], ["B", "12", "Y"]],
    )
    _write_csv(Path(cfg.data_in) / "blank_header.csv", [["nombre", "", "ciudad"], ["Ana", "30", "Lima"]])
    _write_csv(
        Path(cfg.data_in) / "dup_header.csv",
        [["nombre", "edad", "ciudad", "Nombre"], ["Eva", "31", "Quito", "x"]],
    )
    result = run_batch(spark, cfg, now=NOW)
    by_file = {r.source_file: r for r in result.files}
    assert (by_file["empty.csv"].valid_count, by_file["empty.csv"].rejected_count) == (0, 0)
    assert (by_file["allbad.csv"].valid_count, by_file["allbad.csv"].rejected_count) == (0, 2)
    assert by_file["allbad.csv"].inserted_new == 0
    rej = Path(cfg.data_rejected)
    assert (rej / "rejected_blank_header.csv").read_text() == (
        'nombre,_c1,ciudad,edad,motivo\nAna,30,Lima,"",Faltan columnas requeridas\n'
    )
    assert (rej / "rejected_dup_header.csv").read_text() == (
        "nombre0,edad,ciudad,Nombre3,nombre,motivo\n"
        'Eva,31,Quito,x,"",Faltan columnas requeridas\n'
    )
    # no fact table written at all (zero valid rows anywhere)
    import os
    assert not os.path.exists(cfg.fact_path)
    # audit has every row regardless
    assert spark.read.parquet(cfg.audit_path).count() == 4


def test_edge_extra_columns_pass_through_to_rejects(spark, tmp_path):
    """Extra CSV columns survive into the reject file (reference keeps
    them via {**row}, scr/etl_batch.py:52)."""
    cfg = PipelineConfig(
        data_in=str(tmp_path / "in"),
        data_rejected=str(tmp_path / "rej"),
        warehouse=str(tmp_path / "wh"),
    )
    _write_csv(
        Path(cfg.data_in) / "extra.csv",
        [["nombre", "edad", "ciudad", "nota"],
         ["Ana", "30", "Lima", "ok-row"],
         ["Eva", "error", "Quito", "bad-row"]],
    )
    run_batch(spark, cfg, now=NOW)
    with (Path(cfg.data_rejected) / "rejected_extra.csv").open() as f:
        rows = list(csv.DictReader(f))
    assert rows[0]["nota"] == "bad-row"
    assert rows[0]["motivo"] == "Edad no convertible a int"
    # valid row loaded normally
    assert spark.read.parquet(cfg.fact_path).count() == 1


def test_cli_main_end_to_end(spark, tmp_path):
    """`python -m etl_python_sqlite_spark` parity path: main() drives the
    same run_batch over a dirty CSV and reports the audit line."""
    import etl_python_sqlite_spark.__main__ as cli

    data_in = tmp_path / "in"
    data_in.mkdir()
    (data_in / "personas.csv").write_text(
        "nombre,edad,ciudad\nana,30,madrid\nbob,17,paris\ncarla,abc,roma\n"
    )
    # reuse the session the suite already has: main() creates via
    # getOrCreate, so it binds to the active session rather than a new JVM
    rc = cli.main(
        [
            "--data-in", str(data_in),
            "--data-rejected", str(tmp_path / "rej"),
            "--warehouse", str(tmp_path / "wh"),
        ]
    )
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "wh" / "personas_limpias"))
    assert out.count() == 1  # only ana survives (bob underage, carla bad int)


def _outcome(spark, cfg, audit_rows):
    """Everything a run leaves behind except its timestamps: audit values
    (``AUDIT_SCHEMA`` tuples minus ``started_at``), reject CSV bytes, fact
    rows (ids, natural keys, lineage), dim rows."""
    rej = Path(cfg.data_rejected)
    return (
        sorted((r[0], *r[2:]) for r in audit_rows),
        {p.name: p.read_text(encoding="utf-8") for p in rej.glob("*.csv")},
        sorted(
            (r["persona_id"], r["nombre"], r["edad"], r["ciudad_id"], r["run_id"])
            for r in spark.read.parquet(cfg.fact_path).collect()
        ),
        sorted(tuple(r) for r in spark.read.parquet(cfg.dim_path).collect()),
    )


def test_batch_and_combined_runs_agree(spark, tmp_path):
    """run_batch and run_directory_combined share one core: on a batch with
    a reordered header, a file missing ``ciudad``, a header-only file and a
    cross-file duplicate they leave identical warehouses and rejects, with
    the ids the reference's sorted per-file loop assigns (the second file
    with valid rows gets the ids after the first's, although 'Abel' and
    'Bogotá' sort first)."""
    files = {
        "a_reordered.csv": [["edad", "ciudad", "nombre"], ["30", "lima", "ana"],
                            ["41", "quito", "luis"], ["20", "lima", "kid"]],
        "b_sin_ciudad.csv": [["nombre", "edad"], ["bruno", "33"]],
        "c_vacio.csv": [["nombre", "edad", "ciudad"]],
        "d_dup.csv": [["nombre", "edad", "ciudad"], ["ANA", "30", "LIMA"],
                      ["abel", "50", "bogotá"], ["pepe", "x", "lima"]],
    }
    outcomes = []
    for name, run in (("batch", run_batch), ("combined", run_directory_combined)):
        cfg = PipelineConfig(
            data_in=str(tmp_path / "in"),
            data_rejected=str(tmp_path / name / "rej"),
            warehouse=str(tmp_path / name / "wh"),
        )
        for fname, rows in files.items():
            _write_csv(Path(cfg.data_in) / fname, rows)
        out = run(spark, cfg, now=NOW)
        audit = (
            [(f.run_id, "", f.source_file, f.valid_count, f.rejected_count,
              f.inserted_new, f.ignored_duplicates) for f in out.files]
            if name == "batch"
            else [tuple(r) for r in out.collect()]
        )
        outcomes.append(_outcome(spark, cfg, audit))
    assert outcomes[0] == outcomes[1]

    audit, rejects, fact, dim = outcomes[0]
    rid = {f: make_run_id(f, NOW) for f in files}
    assert audit == [
        (rid["a_reordered.csv"], "a_reordered.csv", 2, 1, 2, 0),
        (rid["b_sin_ciudad.csv"], "b_sin_ciudad.csv", 0, 1, 0, 0),
        (rid["c_vacio.csv"], "c_vacio.csv", 0, 0, 0, 0),
        (rid["d_dup.csv"], "d_dup.csv", 2, 1, 1, 1),
    ]
    assert rejects == {
        "rejected_a_reordered.csv": "edad,ciudad,nombre,motivo\n20,lima,kid,Edad < 25\n",
        "rejected_b_sin_ciudad.csv": (
            'nombre,edad,ciudad,motivo\nbruno,33,"",Faltan columnas requeridas\n'
        ),
        "rejected_d_dup.csv": (
            "nombre,edad,ciudad,motivo\npepe,x,lima,Edad no convertible a int\n"
        ),
    }
    assert fact == [
        (1, "Ana", 30, 1, rid["a_reordered.csv"]),
        (2, "Luis", 41, 2, rid["a_reordered.csv"]),
        (3, "Abel", 50, 3, rid["d_dup.csv"]),
    ]
    assert dim == [(1, "Lima"), (2, "Quito"), (3, "Bogotá")]


@pytest.mark.parametrize("run", [run_batch, run_directory_combined])
def test_source_file_is_the_on_disk_name(spark, tmp_path, run):
    """The scan reports URL-encoded paths ('año%202024.csv'); audit rows,
    run ids, fact lineage and reject files must carry the on-disk name."""
    cfg = PipelineConfig(
        data_in=str(tmp_path / "in"),
        data_rejected=str(tmp_path / "rej"),
        warehouse=str(tmp_path / "wh"),
    )
    names = ["año 2024.csv", "a+b.csv", "por%20ciento.csv"]
    for i, name in enumerate(names):
        _write_csv(
            Path(cfg.data_in) / name,
            [["nombre", "edad", "ciudad"], [f"p{i}", "30", "Lima"], [f"q{i}", "x", "Lima"]],
        )
    run(spark, cfg, now=NOW)
    audit = spark.read.parquet(cfg.audit_path).collect()
    assert sorted(r["source_file"] for r in audit) == sorted(names)
    assert all(r["run_id"] == make_run_id(r["source_file"], NOW) for r in audit)
    assert all((r["valid_count"], r["inserted_new"]) == (1, 1) for r in audit)
    lineage = {r["run_id"] for r in spark.read.parquet(cfg.fact_path).collect()}
    assert lineage == {make_run_id(n, NOW) for n in names}
    assert sorted(p.name for p in Path(cfg.data_rejected).iterdir()) == sorted(
        f"rejected_{n}" for n in names
    )


def _jobs_of(spark, fn, group: str) -> int:
    """Spark jobs ``fn`` issues, counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_batch_jobs_do_not_grow_with_file_count(spark, tmp_path):
    """Files sharing a header are one scan and one load: a batch of 6
    issues exactly as many Spark jobs as a batch of 2."""
    jobs = []
    for n in (2, 6):
        cfg = PipelineConfig(
            data_in=str(tmp_path / f"in{n}"),
            data_rejected=str(tmp_path / f"rej{n}"),
            warehouse=str(tmp_path / f"wh{n}"),
        )
        for i in range(n):
            _write_csv(
                Path(cfg.data_in) / f"f{i}.csv",
                [["nombre", "edad", "ciudad"], [f"n{i}", "30", "Lima"],
                 [f"m{i}", "40", f"C{i}"], [f"r{i}", "12", "Lima"]],
            )
        jobs.append(_jobs_of(spark, lambda: run_batch(spark, cfg, now=NOW), f"files{n}"))
    assert jobs[0] == jobs[1], jobs
