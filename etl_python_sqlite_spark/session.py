"""SparkSession factory with scale-aware defaults.

Local testing runs ``local[N]`` (one JVM); the configs below are chosen so
the same code is correct and fast on a multi-executor cluster:

* AQE on — runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast-join conversion replace hand-tuned partition counts.
* ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; on a
  real cluster you would raise it to ~2-3× total cores and let AQE coalesce.
* Arrow enabled for every pandas interchange (pandas UDFs, toPandas).
* Session timezone pinned to UTC — the reference stores ISO-8601 UTC
  timestamps (reference scr/etl_incremental_audit.py:213), and a pinned
  zone keeps parquet timestamp semantics identical across JVMs.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

#: local cores of a session this module builds, and its default shuffle
#: partition count
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "etl_python_sqlite_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    Any already-active session is reused (driver harnesses pass their own);
    configs here only apply when this call actually creates the session.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{CPUS}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema: T.StructType) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``schema`` order) as a DataFrame
    whose plan is a ``LocalRelation``.

    The rows travel to the JVM as one Arrow table. ``createDataFrame`` on
    a Python list instead builds a Python RDD, and every action over it
    starts Python workers to deserialize the rows.
    """
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
