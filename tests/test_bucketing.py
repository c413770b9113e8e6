"""Bucketed-table co-located joins: the at-scale answer to repeated
fact⋈fact joins — both sides pre-hashed into the same bucket layout, so
the join needs NO exchange at query time."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    orders = spark.range(10_000).select(
        F.col("id").alias("o_orderkey"), (F.col("id") % 97).alias("o_custkey")
    )
    lines = spark.range(40_000).select(
        (F.col("id") % 10_000).alias("l_orderkey"),
        (F.col("id") % 7).cast("double").alias("l_quantity"),
    )
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lines")
    (
        orders.write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .saveAsTable("b_orders")
    )
    (
        lines.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable("b_lines")
    )
    return spark.table("b_orders"), spark.table("b_lines")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    orders, lines = bucketed_tables
    # force sort-merge (tiny test tables would otherwise AQE-broadcast;
    # at real scale fact⋈fact IS a sort-merge join) — the point is the
    # bucket layout satisfying the join's distribution requirement
    joined = orders.hint("merge").join(lines, orders.o_orderkey == lines.l_orderkey)
    joined.collect()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    # co-located buckets: the join runs with ZERO exchanges
    assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan[:500]}"


def test_bucketed_join_correct(spark, bucketed_tables):
    orders, lines = bucketed_tables
    n = orders.join(lines, orders.o_orderkey == lines.l_orderkey).count()
    assert n == 40_000  # every line matches exactly one order


def test_bucketed_groupby_avoids_shuffle(spark, bucketed_tables):
    orders, _ = bucketed_tables
    agg = orders.groupBy("o_orderkey").agg(F.count("*").alias("n"))
    agg.collect()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
