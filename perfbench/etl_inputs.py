"""Seeded CSV batches for the ETL workloads, and their expected outcome.

The generator writes ``nombre,edad,ciudad`` files with the dirt the
reference pipeline exists to clean: padded and mixed-case names, cities
that need ``str.title()``, ages with surrounding spaces or a sign, and a
share of rows for every reject branch of ``operators/transform.py``
(short rows, non-integer or empty ``edad``, underage). Natural keys repeat
inside a file and across files, so the first load already ignores
duplicates.

The expected outcome (the manifest) is computed from the written files
with ``csv.DictReader`` and CPython's ``str.strip().capitalize()``,
``str.strip().title()`` and ``int()``: the reference's own semantics, not
the engine's. ``check_load`` and ``check_rerun`` compare a finished
warehouse against it by reading the parquet and CSV outputs directly,
without Spark.

``edad`` never holds the ``\\x1c``-``\\x1f`` separators: ``int()`` and the
engine's ``strict_int`` still disagree on them.
"""

from __future__ import annotations

import csv
import random
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq

EDAD_MIN = 25
REQUIRED = ("nombre", "edad", "ciudad")
MISSING_COLS = "Faltan columnas requeridas"
NONE_VALUE = "Valor None en campo requerido"
BAD_INT = "Edad no convertible a int"
UNDERAGE = f"Edad < {EDAD_MIN}"

FIRST = (
    "ana", "luis", "maría", "josé", "noemi", "guillermo", "naomi", "pedro",
    "lucía", "andrés", "sofía", "diego", "elena", "martín", "valeria",
    "tomás", "inés", "raúl", "carmen", "íñigo", "beatriz", "ramón", "julia",
    "óscar", "paula", "hugo", "alba", "iván", "nuria", "félix",
)
LAST = (
    "garcía", "pérez", "lópez", "o'brien", "gonzález", "rodríguez", "díaz",
    "martínez", "sánchez", "romero", "álvarez", "torres", "ruiz", "núñez",
    "mcdonald", "de la fuente", "castro", "ortiz", "gómez", "jiménez",
)
CIUDADES = (
    "san juan", "san luis", "querétaro", "buenos aires", "mar del plata",
    "la plata", "córdoba", "rosario", "villa maría", "río cuarto",
    "santa fe", "o'higgins", "san miguel de tucumán", "bahía blanca",
    "mendoza", "salta", "neuquén", "ushuaia", "posadas", "paraná",
    "santiago del estero", "río gallegos", "viedma", "la rioja",
)
BAD_EDAD = ("error", "26.5", "", "abc", "2 6", "treinta", "-", "1e3")


def _dirty_text(rng: random.Random, s: str) -> str:
    form = rng.randrange(6)
    if form == 1:
        s = s.upper()
    elif form == 2:
        s = s.title()
    elif form == 3:
        s = s.capitalize()
    pad = rng.randrange(5)
    if pad == 1:
        s = "  " + s + " "
    elif pad == 2:
        s = s + "\t"
    elif pad == 3:
        s = " " + s
    return s


def _dirty_int(rng: random.Random, n: int) -> str:
    return rng.choice((str(n), str(n), f" {n}", f"{n} ", f"+{n}", f" {n} "))


@dataclass
class FileOutcome:
    """What the reference does with one file on a first load."""

    name: str
    rows: int = 0
    valid: int = 0
    motivos: Counter = field(default_factory=Counter)
    inserted: int = 0
    #: natural keys (nombre, edad, ciudad) this file inserts
    keys: set = field(default_factory=set)

    @property
    def rejected(self) -> int:
        return sum(self.motivos.values())

    @property
    def ignored(self) -> int:
        return self.valid - self.inserted


@dataclass
class Batch:
    data_in: Path
    files: list[FileOutcome]

    @property
    def csv_rows(self) -> int:
        return sum(f.rows for f in self.files)


def _rows(rng: random.Random, n: int, seen: list[tuple]) -> list[list[str]]:
    """``n`` raw rows: ~82 % valid (a tenth of them re-using an earlier
    key with other dirt), the rest spread over the reject branches."""
    out = []
    for _ in range(n):
        if seen and rng.random() < 0.1:
            nombre, edad, ciudad = rng.choice(seen)
        else:
            nombre = f"{rng.choice(FIRST)} {rng.choice(LAST)}"
            edad = rng.randrange(EDAD_MIN, 90)
            ciudad = rng.choice(CIUDADES)
            seen.append((nombre, edad, ciudad))
        row = [_dirty_text(rng, nombre), _dirty_int(rng, edad), _dirty_text(rng, ciudad)]
        kind = rng.random()
        if kind < 0.04:
            row = row[:2]  # short row: ciudad is None
        elif kind < 0.10:
            row[1] = rng.choice(BAD_EDAD)
        elif kind < 0.18:
            row[1] = _dirty_int(rng, rng.randrange(16, EDAD_MIN))
        out.append(row)
    return out


def generate(
    out_dir: Path, seed: int, n_files: int, rows_per_file: int, odd_headers: bool
) -> Batch:
    """Write ``n_files`` CSVs under ``out_dir`` and return their manifest.

    ``odd_headers`` makes the first file's header ``edad,ciudad,nombre``
    and drops the ``ciudad`` column from the second (the per-file path
    maps columns by name, so both are handled there).
    """
    rng = random.Random(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    seen: list[tuple] = []
    for i in range(n_files):
        header = ["nombre", "edad", "ciudad"]
        rows = _rows(rng, rows_per_file, seen)
        if odd_headers and i == 0:
            header = ["edad", "ciudad", "nombre"]
            rows = [[r[1], r[2], r[0]] if len(r) == 3 else [r[1], r[0]] for r in rows]
        elif odd_headers and i == 1:
            header = ["nombre", "edad"]
            rows = [r[:2] for r in rows]
        # values hold no comma, quote or newline; an empty value is
        # written quoted: the engine reads an unquoted empty field as
        # None where csv.DictReader reads '' (see NOTES.md)
        lines = [",".join(header)] + [",".join(v or '""' for v in r) for r in rows]
        (out_dir / f"part_{i:03d}.csv").write_text("\n".join(lines) + "\n", encoding="utf-8")
    return Batch(out_dir, expected_outcome(out_dir))


def reference_motivo(row: dict, columns: list[str]):
    """The reference's check cascade for one ``csv.DictReader`` row:
    returns (motivo, None) for a reject, (None, natural_key) otherwise."""
    if any(c not in columns for c in REQUIRED):
        return MISSING_COLS, None
    if any(row.get(c) is None for c in REQUIRED):
        return NONE_VALUE, None
    nombre = row["nombre"].strip().capitalize()
    ciudad = row["ciudad"].strip().title()
    try:
        edad = int(row["edad"])
    except ValueError:
        return BAD_INT, None
    if edad < EDAD_MIN:
        return UNDERAGE, None
    return None, (nombre, edad, ciudad)


def expected_outcome(data_in: Path) -> list[FileOutcome]:
    """Per-file outcome of a first load, files in sorted order (the
    reference's, and the tie-break of the combined path's dedup)."""
    inserted: set = set()
    files = []
    for path in sorted(data_in.glob("*.csv")):
        fo = FileOutcome(path.name)
        with open(path, newline="", encoding="utf-8") as fh:
            reader = csv.DictReader(fh)
            for row in reader:
                fo.rows += 1
                motivo, key = reference_motivo(row, reader.fieldnames)
                if motivo:
                    fo.motivos[motivo] += 1
                    continue
                fo.valid += 1
                if key not in inserted:
                    inserted.add(key)
                    fo.keys.add(key)
        fo.inserted = len(fo.keys)
        files.append(fo)
    return files


# ---------------------------------------------------------------------------
# Checks against a finished warehouse (no Spark: pyarrow + csv)
# ---------------------------------------------------------------------------


def _read(path: Path, columns: list[str]) -> list[dict]:
    if not path.exists():
        return []
    return pq.read_table(path, columns=columns).to_pylist()


def read_audit(warehouse: Path) -> list[dict]:
    return _read(
        warehouse / "etl_runs",
        ["run_id", "source_file", "valid_count", "rejected_count",
         "inserted_new", "ignored_duplicates"],
    )


def fact_keys_by_file(warehouse: Path) -> tuple[dict[str, set], list[int]]:
    """{sanitized file name: natural keys} from the fact table joined to
    the dimension, plus every persona_id."""
    dim = {r["ciudad_id"]: r["nombre"] for r in _read(warehouse / "ciudades", ["ciudad_id", "nombre"])}
    by_file: dict[str, set] = {}
    ids = []
    for r in _read(warehouse / "personas_limpias", ["persona_id", "nombre", "edad", "ciudad_id", "run_id"]):
        # run_id = <UTC timestamp>_<file name with non-alphanumerics as _>
        by_file.setdefault(r["run_id"].split("_", 1)[1], set()).add(
            (r["nombre"], r["edad"], dim.get(r["ciudad_id"]))
        )
        ids.append(r["persona_id"])
    return by_file, ids


def _sanitized(name: str) -> str:
    return "".join(ch if ch.isalnum() else "_" for ch in name)


def reject_motivos(data_rejected: Path, name: str) -> Counter:
    path = data_rejected / f"rejected_{name}"
    if not path.exists():
        return Counter()
    with open(path, newline="", encoding="utf-8") as fh:
        return Counter(r["motivo"] for r in csv.DictReader(fh))


def check_load(
    batch: Batch, warehouse: Path, data_rejected: Path, audit: list[dict]
) -> list[tuple[str, str]]:
    """(file, problem) for each file of a first load that does not match
    the manifest. ``audit`` holds the load's own ``etl_runs`` rows."""
    by_file, ids = fact_keys_by_file(warehouse)
    dense = sorted(ids) == list(range(1, len(ids) + 1))
    rows = {r["source_file"]: r for r in audit}
    failures = []
    for fo in batch.files:
        got = rows.get(fo.name)
        want = (fo.valid, fo.rejected, fo.inserted, fo.ignored)
        problems = []
        if got is None:
            problems.append("no audit row")
        elif (got["valid_count"], got["rejected_count"], got["inserted_new"],
              got["ignored_duplicates"]) != want:
            problems.append(f"audit {got} != {want}")
        if reject_motivos(data_rejected, fo.name) != fo.motivos:
            problems.append("reject CSV motivos differ")
        if by_file.get(_sanitized(fo.name), set()) != fo.keys:
            problems.append("fact natural keys differ")
        if not dense:
            problems.append("persona_id not dense 1..N")
        failures += [(fo.name, p) for p in problems]
    if len(audit) != len(batch.files):
        # charged to the first file so that failures never outnumber files
        failures.append((batch.files[0].name, f"{len(audit)} audit rows for {len(batch.files)} files"))
    return failures


def check_rerun(
    batch: Batch, warehouse: Path, data_rejected: Path, audit: list[dict]
) -> list[tuple[str, str]]:
    """Failures of an identical re-run: it inserts nothing, ignores every
    valid row, and leaves the fact table as the load left it."""
    failures = []
    rows = {r["source_file"]: r for r in audit}
    for fo in batch.files:
        got = rows.get(fo.name)
        want = (fo.valid, fo.rejected, 0, fo.valid)
        if got is None or (got["valid_count"], got["rejected_count"],
                           got["inserted_new"], got["ignored_duplicates"]) != want:
            failures.append(("rerun", f"{fo.name}: audit {got} != {want}"))
        if reject_motivos(data_rejected, fo.name) != fo.motivos:
            failures.append(("rerun", f"{fo.name}: reject CSV motivos differ"))
    _, ids = fact_keys_by_file(warehouse)
    if len(ids) != sum(fo.inserted for fo in batch.files):
        failures.append(("rerun", f"fact holds {len(ids)} rows"))
    return failures
