"""Idempotent append + surrogate-key dimension upsert.

The reference gets dedup/idempotency for free from the storage layer:
``UNIQUE`` constraints + ``INSERT OR IGNORE`` (reference
scr/etl_batch.py:100,139-146) and AUTOINCREMENT surrogate keys
(scr/etl_batch.py:86-91). Spark sinks have neither, so this module is the
engine's genuinely custom machinery (SURVEY.md §4.2):

* ``idempotent_append`` — first-writer-wins append with accurate
  inserted/ignored counters, computed from the anti-join itself (not
  before/after table counts, which double-count under concurrent runs).
* ``upsert_dimension`` — set-based replacement for the reference's
  N+1 per-row "get or create" (scr/etl_relational.py:130-135): distinct
  natural keys → left-anti vs existing dim → assign contiguous surrogate
  ids → append.

Scale notes:

* The anti-join shuffles on the natural key. At 100 TB use
  ``idempotent_append_bucketed`` — the target lives in a catalog table
  bucketed by the key, so the anti-join consumes the bucket layout with
  NO exchange over the accumulated table (asserted in
  tests/test_idempotent.py); alternatively a small batch side broadcasts.
* Contiguous id assignment needs a global order: a dimension's new keys
  (small by definition) get theirs on the driver, a per-batch fact append
  (bounded) in a single-task window. That is the reference's
  AUTOINCREMENT contract. For scale-mode appends where contiguity is not
  required, pass ``contiguous=False`` to use partition-local id blocks
  (fully parallel).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_or_empty(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Read a parquet 'table' directory, or an empty frame if absent."""
    if _exists(path):
        return spark.read.schema(schema).parquet(path)
    return spark.createDataFrame([], schema)


def _exists(path: str) -> bool:
    # local-fs check is enough for this engine's warehouse layout; on a
    # cluster the warehouse would be a catalog/Delta table instead.
    return os.path.exists(path)


def assign_ids(
    df: DataFrame,
    id_col: str,
    start: int = 1,
    order_by: list[str] | None = None,
    contiguous: bool = True,
) -> DataFrame:
    """Attach surrogate ids ``start, start+1, …`` to ``df``.

    contiguous=True  → deterministic dense ids via a global-order window
                       (single task — use for dims / bounded batches; this
                       is AUTOINCREMENT parity).
    contiguous=False → ``monotonically_increasing_id()`` offset by
                       ``start`` — parallel, unique, NOT dense (scale mode).
    """
    if contiguous:
        w = Window.orderBy(*(order_by or df.columns))
        return df.withColumn(id_col, (F.row_number().over(w) + start - 1).cast("long"))
    return df.withColumn(id_col, (F.monotonically_increasing_id() + start).cast("long"))


@dataclass
class AppendResult:
    attempted: int
    inserted_new: int
    ignored_duplicates: int
    target_path: str
    #: (group, inserted_new, ignored_duplicates) rows, populated only when
    #: ``group_col`` was given: one collect of O(#groups) rows, which also
    #: yields the totals above, so the accounting costs one action
    per_group: list[tuple] | None = None


def idempotent_append(
    spark: SparkSession,
    batch: DataFrame,
    target_path: str,
    keys: list[str],
    target_schema: T.StructType | None = None,
    id_col: str | None = None,
    id_start: int | None = None,
    group_col: str | None = None,
) -> AppendResult:
    """INSERT OR IGNORE semantics onto a parquet table.

    1. in-batch dedup: first writer wins;
    2. cross-run dedup: left-anti join against existing target keys;
    3. surrogate ids assigned AFTER dedup when ``id_col`` is given —
       SQLite does not consume rowids for IGNOREd inserts, so ids stay
       dense across re-runs only if assigned to genuinely-new rows;
    4. append only genuinely new rows;
    5. metrics from the anti-join count — the reference derives
       inserted/ignored from before/after COUNT(*) (scr/etl_batch.py:150-154)
       which races under concurrency; counting the appended frame itself is
       exact under the same single-writer contract.

    ``group_col`` (e.g. ``source_file`` in combined multi-file runs) rides
    through dedup/anti-join for accounting only — it is dropped before the
    write and ``per_group`` reports (inserted, ignored) per value. In-batch
    duplicates then resolve to the lexicographically FIRST group, matching
    the reference's sorted per-file processing order (a key seen in file A
    then file B inserts from A, ignores in B); plain ``dropDuplicates``
    would pick an arbitrary winner. New ids follow the same order,
    ``(group_col, *keys)``: the ids a loop over the groups would assign.
    """
    schema = target_schema or batch.drop(*([group_col] if group_col else [])).schema
    existing_keys = (
        spark.read.schema(schema).parquet(target_path).select(*keys)
        if _exists(target_path)
        else None
    )

    def _write(out: DataFrame) -> None:
        out.write.mode("append").parquet(target_path)

    return _append_with_accounting(
        batch, keys, existing_keys, schema, id_col, id_start, group_col,
        _write, target_path,
    )


def _append_with_accounting(
    batch: DataFrame,
    keys: list[str],
    existing_keys: DataFrame | None,
    schema: T.StructType,
    id_col: str | None,
    id_start: int | None,
    group_col: str | None,
    write_fn,
    target_label: str,
) -> AppendResult:
    """Shared INSERT OR IGNORE core: in-batch dedup → anti-join vs target
    keys → per-group accounting → id assignment → schema-cast write."""
    if group_col is None:
        deduped = batch.dropDuplicates(keys)
    else:
        w = Window.partitionBy(*keys).orderBy(group_col)
        deduped = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    if existing_keys is not None:
        new_rows = deduped.join(existing_keys, on=keys, how="left_anti")
    else:
        new_rows = deduped

    # One pass: persist the (small) new-rows frame so the accounting and
    # the write don't recompute the anti-join twice.
    new_rows = new_rows.persist()
    try:
        # one aggregation over the batch rows (attempted) and the new rows
        # (inserted), taken before the write: afterwards the anti-join
        # would find every new row already in the target
        group = [group_col] if group_col else []
        flagged = batch.select(*group, F.lit(False).alias("_new")).unionAll(
            new_rows.select(*group, F.lit(True))
        )
        counts = (
            flagged.groupBy(*group)
            .agg(F.count_if(~F.col("_new")), F.count_if("_new"))
            .collect()
        )
        attempted = sum(r[-2] for r in counts)
        inserted = sum(r[-1] for r in counts)
        per_group = [(g, n, a - n) for g, a, n in counts] if group_col else None
        if inserted:
            out = new_rows
            if id_col is not None:
                out = assign_ids(
                    out, id_col, start=id_start or 1, order_by=[*group, *keys]
                )
            write_fn(
                out.select([F.col(f.name).cast(f.dataType) for f in schema.fields])
            )
    finally:
        new_rows.unpersist()

    return AppendResult(
        attempted=attempted,
        inserted_new=inserted,
        ignored_duplicates=attempted - inserted,
        target_path=target_label,
        per_group=per_group,
    )


def upsert_dimension(
    spark: SparkSession,
    values: DataFrame,
    dim_path: str,
    natural_key: str = "nombre",
    surrogate_key: str = "ciudad_id",
    group_col: str | None = None,
) -> DataFrame:
    """Set-based get-or-create for a surrogate-key dimension.

    Replaces the reference's 2-statements-per-row loop
    (scr/etl_relational.py:130-135) with:
    distinct(batch keys) → left-anti vs dim → contiguous ids from
    max(existing)+1 → append. Returns the up-to-date dimension.

    Existing rows keep their ids across runs (stability contract —
    SURVEY.md §4.2 item 2).

    ``group_col`` (e.g. ``source_file``) orders the new ids by each key's
    first group, then by key: the ids a loop over the groups in sorted
    order would assign (mirrors ``idempotent_append``'s ``group_col``).
    """
    dim_schema = T.StructType(
        [
            T.StructField(surrogate_key, T.LongType(), False),
            T.StructField(natural_key, T.StringType(), False),
        ]
    )
    dim = read_or_empty(spark, dim_path, dim_schema)

    keyed = values.where(F.col(natural_key).isNotNull())
    if group_col is None:
        batch_keys, order = keyed.select(natural_key).distinct(), [natural_key]
    else:
        batch_keys = keyed.groupBy(natural_key).agg(F.min(group_col).alias(group_col))
        order = [group_col, natural_key]
    # a dimension is small by definition: its new keys come to the driver
    # in one action and get their ids there (Python's str order is Spark's
    # binary string order)
    new_keys = sorted(
        tuple(r)
        for r in batch_keys.join(dim.select(natural_key), on=natural_key, how="left_anti")
        .select(*order)
        .collect()
    )
    if new_keys:
        start = 1
        if _exists(dim_path):
            start += dim.agg(F.max(surrogate_key)).first()[0] or 0
        spark.createDataFrame(
            [(start + i, key[-1]) for i, key in enumerate(new_keys)], dim_schema
        ).coalesce(1).write.mode("append").parquet(dim_path)

    # read_or_empty, not a bare read: with an empty first batch nothing was
    # ever written and the path doesn't exist yet
    return read_or_empty(spark, dim_path, dim_schema)


def idempotent_append_bucketed(
    spark: SparkSession,
    batch: DataFrame,
    table_name: str,
    keys: list[str],
    buckets: int = 16,
    target_schema: T.StructType | None = None,
    id_col: str | None = None,
    id_start: int | None = None,
    group_col: str | None = None,
) -> AppendResult:
    """Scale-path INSERT OR IGNORE onto a catalog table bucketed by the
    natural key — full drop-in for :func:`idempotent_append` (same id
    assignment, schema cast and per-group accounting).

    The reference's UNIQUE-constraint dedup becomes an anti-join whose
    TARGET side is pre-hashed into buckets: the join consumes the bucket
    layout directly (no exchange over the accumulated table — only the
    small new batch shuffles; bucketing on ``keys[0]`` satisfies the
    ClusteredDistribution of the full-key join because it is a subset of
    the join keys). This is the variant that holds at 100 TB, where
    re-shuffling the target per batch would dominate.
    """
    schema = target_schema or batch.drop(*([group_col] if group_col else [])).schema
    existing_keys = (
        spark.table(table_name).select(*keys)
        if spark.catalog.tableExists(table_name)
        else None
    )

    def _write(out: DataFrame) -> None:
        (
            out.write.mode("append")
            .bucketBy(buckets, keys[0])
            .sortBy(keys[0])
            .saveAsTable(table_name)
        )

    return _append_with_accounting(
        batch, keys, existing_keys, schema, id_col, id_start, group_col,
        _write, table_name,
    )
