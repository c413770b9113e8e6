"""Driver-gate rehearsal: every queries() entry vs its oracle_sql() twin.

Runs at sf0.001 by default (fast inner loop); set
SPARK_GRAFT_ORACLE_SF=/root/testdata/sf0.01 to rehearse the real gate.
"""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_CORRECT, SF_SMOKE, compare_frames, duck_con

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", SF_SMOKE)

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.schema is not None


def test_every_oracle_key_has_query():
    assert set(ORACLES) <= set(QUERIES), (
        "oracle_sql keys must be a subset of queries keys"
    )


@pytest.mark.parametrize("qname", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_query_runs(spark, qname):
    """Non-SQL-expressible queries: the driver's weaker rows-only check."""
    df = QUERIES[qname](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


@pytest.mark.parametrize("qname", sorted(ORACLES.keys()))
def test_query_matches_oracle(spark, qname):
    q = QUERIES[qname]
    sdf = q(spark, SF_DIR)
    con = duck_con(SF_DIR)
    try:
        rel = con.sql(ORACLES[qname])
        compare_frames(sdf, rel, qname)
    finally:
        con.close()


#: the queries behind the scan-spread gate (``plans.ext._scan_underparallel``)
SPREAD_GATED = (
    "ext_text_stats", "ext_langid", "ext_quality_scores",
    "ext_quality_sample", "ext_curation_funnel", "ext_multimodal_decode",
)


@pytest.mark.parametrize("gate", (True, False), ids=("spread", "scan"))
def test_scan_spread_gate_matches_oracle(spark, monkeypatch, gate):
    """The gate keys on the core count, so each of its queries must match
    its oracle at the gate scale with the gate forced open and closed."""
    from etl_python_sqlite_spark.operators.cache import release_all
    from etl_python_sqlite_spark.plans import ext as E

    monkeypatch.setattr(E, "_scan_underparallel", lambda *a, **k: gate)
    release_all()  # no shared stage built under the other setting
    con = duck_con(SF_CORRECT)
    try:
        for qname in SPREAD_GATED:
            compare_frames(QUERIES[qname](spark, SF_CORRECT), con.sql(ORACLES[qname]), qname)
    finally:
        con.close()
