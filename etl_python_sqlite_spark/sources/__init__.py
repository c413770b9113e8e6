"""Source connectors: parquet star schema, all-string CSV, WebDataset
tar shards. There is no SQLite reader: the parquet warehouse replaces
the reference's SQLite file."""

from etl_python_sqlite_spark.sources.parquet import load_table

__all__ = ["load_table"]
