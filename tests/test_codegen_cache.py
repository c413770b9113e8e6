"""A warm query compiles nothing: Spark's generated-class cache holds the
engine's working set (``session.CODEGEN_CACHE_ENTRIES``), and every plan
generates the same code text on every call.

The count is janino compiles, read from Spark's
``CodegenMetrics.METRIC_COMPILATION_TIME`` histogram: the cache calls the
compiler only on a miss, so a second run of a plan whose classes are
still cached adds nothing to it. At Spark's default cache of 100 entries
the perfbench query mix recompiles ~140 classes on every warm pass.
"""

from __future__ import annotations

import csv
from datetime import datetime, timezone
from pathlib import Path

import pytest

import __spark_entry__ as entrymod
from etl_python_sqlite_spark.pipeline import PipelineConfig, run_batch
from tests.conftest import SF_SMOKE

#: the ``queries`` workload's mix (perfbench/run.py)
BENCH_QUERIES = (
    "agg_pricing_summary",
    "fact_dim_join",
    "window_value_zoo",
    "part_basket_pairs",
    "sessionize_events",
    "ext_exact_dedup",
    "ext_langid",
    "ext_bpe_tokenizer",
    "ext_tfidf_top_terms",
    "ext_kll_quantiles",
)

#: queries whose second run may still compile, each with its cause. None
#: inlines a driver-computed literal: AQE re-plans each from runtime sizes
#: in the order its shuffle stages finish, so a join that is broadcast in
#: one run is a shuffle join in the next, and the fused stages differ.
RECOMPILES = {
    "ext_containment_join": "AQE turns a join into a broadcast join in some runs only",
    "ext_kmeans_label_purity": "AQE fuses the rank filter into a different stage",
    "ext_vocab_edit_pairs": "AQE turns a join into a broadcast join in some runs only",
}

NOW = datetime(2024, 6, 1, 12, 0, 0, tzinfo=timezone.utc)

QUERIES = entrymod.queries()


def compiles(spark) -> int:
    """Janino compiles this JVM has run so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def run_noop(spark, name: str) -> int:
    """Compiles one run of query ``name`` to the ``noop`` sink costs."""
    before = compiles(spark)
    QUERIES[name](spark, SF_SMOKE).write.mode("overwrite").format("noop").save()
    return compiles(spark) - before


def test_warm_bench_queries_compile_nothing(spark):
    for name in BENCH_QUERIES:
        run_noop(spark, name)
    warm = {name: run_noop(spark, name) for name in BENCH_QUERIES}
    assert {n: c for n, c in warm.items() if c} == {}


def _write_csv(path: Path, rows) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    with path.open("w", newline="", encoding="utf-8") as f:
        csv.writer(f).writerows(rows)


def test_warm_etl_cycle_compiles_nothing(spark, tmp_path):
    """A load into an empty warehouse, then an identical re-run; the
    second such cycle, into a fresh warehouse, compiles nothing."""
    data_in = tmp_path / "in"
    _write_csv(data_in / "a.csv", [
        ["nombre", "edad", "ciudad"],
        ["  guillermo ", "26", "san luis"],
        ["Naomi ", "23", " san juan"],
        ["Pedro", "error", "Querétaro"],
        ["sofia", "29", "san luis"],
    ])
    _write_csv(data_in / "b.csv", [
        ["edad", "ciudad", "nombre"],
        ["52", "SAN LUIS", "NOEMI"],
        ["26", "San Luis", "Guillermo"],
    ])
    _write_csv(data_in / "c.csv", [["nombre", "edad"], ["Bruno", "33"]])

    def cycle(i: int) -> int:
        cfg = PipelineConfig(
            data_in=str(data_in),
            data_rejected=str(tmp_path / f"rej{i}"),
            warehouse=str(tmp_path / f"wh{i}"),
        )
        before = compiles(spark)
        run_batch(spark, cfg, now=NOW)
        assert all(r.inserted_new == 0 for r in run_batch(spark, cfg, now=NOW).files)
        return compiles(spark) - before

    cycle(1)
    assert cycle(2) == 0


def test_new_rows_into_a_grown_warehouse_compile_nothing(spark, tmp_path):
    """Each batch of new rows numbers its ids from the warehouse's max id
    + 1, a new start every time; once one batch has loaded into a
    non-empty warehouse, the next such batch compiles nothing."""
    cfg = PipelineConfig(
        data_in=str(tmp_path / "in"),
        data_rejected=str(tmp_path / "rej"),
        warehouse=str(tmp_path / "wh"),
    )

    def batch(i: int) -> int:
        for old in (tmp_path / "in").glob("*.csv"):
            old.unlink()
        _write_csv(tmp_path / "in" / f"lote{i}.csv", [
            ["nombre", "edad", "ciudad"],
            *([f"persona {chr(97 + i)}{chr(97 + j)}", str(30 + j), "san luis"]
              for j in range(3)),
        ])
        before = compiles(spark)
        files = run_batch(spark, cfg, now=NOW).files
        assert [f.inserted_new for f in files] == [3]
        return compiles(spark) - before

    batch(0)
    batch(1)
    assert batch(2) == 0


@pytest.mark.slow
def test_every_query_generates_the_same_code_twice(spark):
    """Every ``queries()`` entry, run twice: the second pass compiles
    nothing outside ``RECOMPILES``."""
    names = sorted(QUERIES)
    for name in names:
        run_noop(spark, name)
    warm = {name: run_noop(spark, name) for name in names}
    recompiled = {n: c for n, c in warm.items() if c}
    assert set(recompiled) <= set(RECOMPILES), recompiled
