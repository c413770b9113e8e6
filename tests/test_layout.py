"""Physical-layout tests: Z-order clustering must measurably shrink
per-file min/max ranges (the data-skipping win), and the z-value algebra
must be exact."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_python_sqlite_spark.operators.layout import zorder_ranks, zvalue_expr


def _per_file_ranges(path, cols):
    """Mean (max-min) per parquet file for each column, from footers
    only — exactly the statistics a scan planner prunes with."""
    import glob

    spans = {c: [] for c in cols}
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        lo = {c: None for c in cols}
        hi = {c: None for c in cols}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                name = col.path_in_schema
                if name in cols and col.statistics is not None:
                    s = col.statistics
                    lo[name] = s.min if lo[name] is None else min(lo[name], s.min)
                    hi[name] = s.max if hi[name] is None else max(hi[name], s.max)
        for c in cols:
            if lo[c] is not None:
                spans[c].append(hi[c] - lo[c])
    return {c: sum(v) / len(v) for c, v in spans.items()}


@pytest.fixture(scope="module")
def grid(spark):
    """Uniform 2-D grid: x and y independent — the worst case for a
    lexicographic sort (y unclustered), the showcase for z-order."""
    return (
        spark.range(4096)
        .select(
            F.col("id"),
            (F.col("id") % 64).alias("x"),
            ((F.col("id") * 2654435761) % 64).alias("y"),
        )
    )


def test_zorder_shrinks_both_dims(spark, grid, tmp_path):
    plain = str(tmp_path / "plain")
    lexi = str(tmp_path / "lexi")
    zord = str(tmp_path / "zord")
    grid.repartition(8).write.parquet(plain)
    grid.repartitionByRange(8, "x").sortWithinPartitions("x", "y").write.parquet(lexi)
    (
        zorder_ranks(grid, ["x", "y"], bits=6)
        .repartitionByRange(8, "zvalue")
        .sortWithinPartitions("zvalue")
        .select(grid.columns)
        .write.parquet(zord)
    )

    r_plain = _per_file_ranges(plain, ["x", "y"])
    r_lexi = _per_file_ranges(lexi, ["x", "y"])
    r_zord = _per_file_ranges(zord, ["x", "y"])
    # lexicographic: x collapses, y stays ~full-range
    assert r_lexi["x"] < r_plain["x"] / 4
    assert r_lexi["y"] > r_plain["y"] * 0.8
    # z-order: BOTH dims shrink vs the unsorted layout
    assert r_zord["x"] < r_plain["x"] * 0.6
    assert r_zord["y"] < r_plain["y"] * 0.6


def test_zvalue_exact_interleave(spark):
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (63, 63)], "a long, b long"
    )
    got = df.selectExpr(f"{zvalue_expr(['a', 'b'], 6)} AS z").collect()

    def morton(a, b):
        z = 0
        for j in range(6):
            z |= ((a >> j) & 1) << (2 * j)
            z |= ((b >> j) & 1) << (2 * j + 1)
        return z

    assert [r["z"] for r in got] == [
        morton(a, b) for a, b in [(0, 0), (1, 0), (0, 1), (3, 5), (63, 63)]
    ]


def test_zorder_ranks_deterministic_with_tiebreak(spark, grid):
    a = zorder_ranks(grid, ["x", "y"], bits=6, tiebreak="id").collect()
    b = zorder_ranks(grid, ["x", "y"], bits=6, tiebreak="id").collect()
    assert sorted(r["zvalue"] for r in a) == sorted(r["zvalue"] for r in b)
    assert {r["id"]: r["zvalue"] for r in a} == {r["id"]: r["zvalue"] for r in b}


def test_zorder_empty_input(spark):
    empty = spark.createDataFrame([], "x long, y long")
    assert zorder_ranks(empty, ["x", "y"], bits=4).count() == 0


def test_snapshot_diff_empty_keys_raises(spark):
    from etl_python_sqlite_spark.operators.snapshot import snapshot_diff

    a = spark.createDataFrame([(1, "x")], "k long, payload string")
    with pytest.raises(ValueError, match="at least one key"):
        snapshot_diff(a, a, keys=[], compare_cols=["payload"])
