"""Skew utilities correctness."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # heavy e2e tier (pytest.ini default deselects)
from pyspark.sql import functions as F

from etl_python_sqlite_spark.operators import skew as K


@pytest.fixture(scope="module")
def skewed(spark):
    """1 hot key (5000 rows) + 50 uniform keys (20 rows each)."""
    hot = spark.range(5000).select(
        F.lit("HOT").alias("k"), (F.col("id") % 7).cast("double").alias("v")
    )
    cold = spark.range(1000).select(
        F.concat(F.lit("k"), (F.col("id") % 50)).alias("k"),
        F.lit(1.0).alias("v"),
    )
    return hot.unionAll(cold)


def test_salted_sum_matches_direct(spark, skewed):
    direct = {
        r["k"]: (r["s"], r["c"])
        for r in skewed.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count("v").alias("c"))
        .collect()
    }
    salted = {
        r["k"]: (r["sum_v"], r["count_v"])
        for r in K.salted_sum_count(skewed, ["k"], "v", n_salts=16).collect()
    }
    assert salted.keys() == direct.keys()
    for k in direct:
        assert salted[k][1] == direct[k][1]
        assert salted[k][0] == pytest.approx(direct[k][0])


def test_salted_join_matches_direct(spark, skewed):
    dim = spark.createDataFrame(
        [("HOT", "hot-dim")] + [(f"k{i}", f"dim{i}") for i in range(50)],
        "k string, label string",
    )
    direct = skewed.join(dim, "k").groupBy("label").count()
    salted = K.salted_broadcast_join(skewed, dim, on="k", n_salts=8).groupBy(
        "label"
    ).count()
    assert {tuple(r) for r in direct.collect()} == {
        tuple(r) for r in salted.collect()
    }


def test_salt_spreads_identical_payload_rows(spark):
    """The canonical skew case: a hot key whose rows are byte-identical.
    A row-content-hash salt maps them all to ONE salt (ADVICE r1); the
    per-row salt must spread them across (almost) all n_salts."""
    constant = spark.range(4000).select(
        F.lit("HOT").alias("k"), F.lit(1.0).alias("v")
    )
    n_distinct = (
        K.with_salt(constant, n_salts=16)
        .select("_salt")
        .distinct()
        .count()
    )
    assert n_distinct >= 12, f"only {n_distinct}/16 salts used for a constant payload"
