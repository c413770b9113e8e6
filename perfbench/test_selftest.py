"""Self-test of the benchmark at toy size (2 CSV files × 50 rows; three
queries over sf0.001-sized tables).

    python3 -m pytest perfbench/test_selftest.py -q -p no:cacheprovider

Each case runs ``run.py`` in a subprocess, as the benchmark is run, and
reads the JSON object on its last line.
"""

from __future__ import annotations

import csv
import json
import shutil
import subprocess
import sys
from collections import Counter
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in BENCH["workloads"]]

sys.path.insert(0, str(HERE))

import etl_inputs as EI  # noqa: E402


def run_bench(workload: str, *extra: str, trace: int = 0) -> dict:
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--toy", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace, kind", [(0, "end_to_end"), (1, "per_layer")])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_prints_every_metric_with_its_unit(workload, trace, kind):
    res = run_bench(workload, trace=trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH[kind]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())


@pytest.mark.parametrize(
    "workload, fault",
    [("etl", "manifest"), ("queries", "digest"), ("etl", "rerun")],
)
def test_fault_counts_as_failed(workload, fault):
    res = run_bench(workload, "--inject", fault)
    assert res["failed"] > 0 and not res["correct"]


def valid_keys(path: Path) -> set:
    with open(path, newline="", encoding="utf-8") as fh:
        reader = csv.DictReader(fh)
        return {key for row in reader if (key := EI.reference_motivo(row, reader.fieldnames)[1])}


def test_manifest_covers_every_reject_branch(tmp_path):
    batch = EI.generate(tmp_path, seed=3, n_files=3, rows_per_file=400, odd_headers=True)
    motivos = sum((f.motivos for f in batch.files), Counter())
    assert set(motivos) == {EI.MISSING_COLS, EI.NONE_VALUE, EI.BAD_INT, EI.UNDERAGE}
    assert batch.files[0].ignored > 0, "no duplicate key inside the first file"
    assert valid_keys(tmp_path / "part_000.csv") & valid_keys(tmp_path / "part_002.csv")
    assert batch.files[1].motivos == Counter({EI.MISSING_COLS: batch.files[1].rows})
    headers = {(tmp_path / f.name).read_text().splitlines()[0] for f in batch.files}
    assert headers == {"nombre,edad,ciudad", "nombre,edad", "edad,ciudad,nombre"}


def test_manifest_is_seeded(tmp_path):
    a = EI.generate(tmp_path / "a", seed=5, n_files=2, rows_per_file=100, odd_headers=False)
    b = EI.generate(tmp_path / "b", seed=5, n_files=2, rows_per_file=100, odd_headers=False)
    assert [(f.rows, f.valid, f.motivos, f.keys) for f in a.files] == [
        (f.rows, f.valid, f.motivos, f.keys) for f in b.files
    ]
    assert (tmp_path / "a" / "part_000.csv").read_bytes() == (tmp_path / "b" / "part_000.csv").read_bytes()


def test_fails_without_the_engine_sources(tmp_path):
    """Next to nothing but BENCHMARK.json and the benchmark, it exits
    non-zero without printing a result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / HERE.name, ignore=shutil.ignore_patterns(".work", "out"))
    proc = subprocess.run(
        [sys.executable, f"{HERE.name}/run.py", "--workload", "etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0 and proc.stdout == ""
