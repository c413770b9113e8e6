"""The parquet footer readers of ``sources/parquet.py`` against what
pyarrow itself reads, for a single file and for a directory of part
files. No Spark session: the readers run on the driver only."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
import pytest

from etl_python_sqlite_spark.sources.parquet import (
    array_dim_from_metadata,
    table_num_row_groups_from_metadata,
    table_row_count_from_metadata,
)


def _table(n: int, dim: int) -> pa.Table:
    return pa.table({
        "id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(
            [[float(i)] * dim for i in range(n)], pa.list_(pa.float32())
        ),
    })


def _single_file(root) -> None:
    pq.write_table(_table(7, 4), root / "t.parquet", row_group_size=3)


def _part_dir(root) -> None:
    d = root / "t.parquet"
    d.mkdir()
    # the empty part sorts first: the first-row dim must come from the
    # next file, not from a part with no rows
    pq.write_table(_table(0, 2), d / "part-00000.parquet")
    pq.write_table(_table(5, 3), d / "part-00001.parquet", row_group_size=2)
    pq.write_table(_table(4, 6), d / "part-00002.parquet")
    (d / "_SUCCESS").write_bytes(b"")


@pytest.mark.parametrize("layout", [_single_file, _part_dir])
def test_footer_readers_match_pyarrow(tmp_path, layout):
    layout(tmp_path)
    path = str(tmp_path / "t.parquet")
    read = pq.read_table(path)
    row_groups = sum(
        f.num_row_groups
        for f in ds.dataset(path, format="parquet").get_fragments()
    )
    sf_dir = str(tmp_path)
    assert table_row_count_from_metadata(sf_dir, "t") == read.num_rows
    assert table_num_row_groups_from_metadata(sf_dir, "t") == row_groups
    assert array_dim_from_metadata(sf_dir, "t", "embedding") == len(
        read.column("embedding")[0].as_py()
    )
