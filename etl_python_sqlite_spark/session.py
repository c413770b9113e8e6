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
* The generated-class cache holds the engine's whole working set
  (``CODEGEN_CACHE_ENTRIES``), so a query that has run once compiles
  nothing when it runs again.
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

#: entries of Spark's JVM-wide cache of janino-compiled classes. Spark's
#: default is 100, but one pass of all 177 queries generates 2,280
#: distinct classes at sf0.001 and 1,982 at sf0.01 (the 10 perfbench
#: queries alone ~170), so at 100 every warm pass evicts what the next one
#: needs and compiles it again. 4096 is ~1.8x the larger count. The conf
#: is static: it is read once per JVM, when ``CodeGenerator`` first
#: initializes, so only the session that starts the JVM sets it. The
#: cache key is the generated source text: a plan whose code differs on
#: each call (a driver-computed primitive literal that codegen inlines)
#: misses at any size. So does a whole-stage class named after its stage
#: id: AQE numbers stages in the order it plans them, which follows which
#: shuffle finishes first, so ``get_spark`` also turns
#: ``spark.sql.codegen.useIdInClassName`` off (the id still shows as
#: ``*(N)`` in ``explain``).
CODEGEN_CACHE_ENTRIES = 4096


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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
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
