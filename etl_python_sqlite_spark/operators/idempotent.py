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
  N+1 per-row "get or create" (scr/etl_relational.py:130-135): existing
  dim ∪ distinct batch keys in one collect → contiguous surrogate ids for
  the new keys on the driver → append.

Scale notes:

* The anti-join shuffles the whole accumulated target on the natural key
  for every batch. At warehouse scale that exchange, not the batch,
  would dominate; the remedy is a target bucketed by the key, whose
  scan the anti-join consumes with no exchange over it.
* Contiguous id assignment needs a global order: a dimension's new keys
  (small by definition) get theirs on the driver, a per-batch fact append
  (bounded) in a single-task window. That is the reference's
  AUTOINCREMENT contract.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_python_sqlite_spark.session import local_frame


def _exists(path: str) -> bool:
    # local-fs check is enough for this engine's warehouse layout; on a
    # cluster the warehouse would be a catalog/Delta table instead.
    return os.path.exists(path)


def assign_ids(
    df: DataFrame, id_col: str, start: int = 1, order_by: list[str] | None = None
) -> DataFrame:
    """Attach dense surrogate ids ``start, start+1, …`` to ``df`` in
    ``order_by`` order, via a global-order window (single task — use for
    dims / bounded batches; this is AUTOINCREMENT parity).

    ``start`` enters the plan as a DECIMAL literal: codegen inlines a
    long literal into the generated source, so each new start (every
    batch into a grown warehouse) would compile new classes, but it
    passes a decimal one in as a reference object, leaving the source,
    and so the compiled class, the same for every start."""
    w = Window.orderBy(*(order_by or df.columns))
    offset = F.lit(start - 1).cast("decimal(19,0)")
    return df.withColumn(id_col, (F.row_number().over(w) + offset).cast("long"))


@dataclass
class AppendResult:
    attempted: int
    inserted_new: int
    ignored_duplicates: int
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
    group_col: str | None = None,
) -> AppendResult:
    """INSERT OR IGNORE semantics onto a parquet table.

    1. in-batch dedup: first writer wins;
    2. cross-run dedup: left-anti join against existing target keys;
    3. surrogate ids assigned AFTER dedup when ``id_col`` is given —
       SQLite does not consume rowids for IGNOREd inserts, so ids stay
       dense across re-runs only if assigned to genuinely-new rows;
       they start at the target's max id + 1, read by the accounting
       action;
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
    existing = (
        spark.read.schema(schema).parquet(target_path) if _exists(target_path) else None
    )

    if group_col is None:
        deduped = batch.dropDuplicates(keys)
    else:
        w = Window.partitionBy(*keys).orderBy(group_col)
        deduped = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    if existing is not None:
        new_rows = deduped.join(existing.select(*keys), on=keys, how="left_anti")
    else:
        new_rows = deduped

    # One pass: persist the (small) new-rows frame so the accounting and
    # the write don't recompute the anti-join twice.
    new_rows = new_rows.persist()
    try:
        # one aggregation over the batch rows (attempted), the new rows
        # (inserted) and, for the id start, the target's ids, taken before
        # the write: afterwards the anti-join would find every new row
        # already in the target
        group = [group_col] if group_col else []
        no_id = F.lit(None).cast("long")
        flagged = batch.select(*group, F.lit(False).alias("_new"), no_id.alias("_id"))
        flagged = flagged.unionAll(new_rows.select(*group, F.lit(True), no_id))
        if id_col is not None and existing is not None:
            no_group = [F.lit(None).cast(batch.schema[group_col].dataType)] if group_col else []
            flagged = flagged.unionAll(
                existing.select(*no_group, F.lit(None).cast("boolean"), F.col(id_col).cast("long"))
            )
        counts = (
            flagged.groupBy(*group)
            .agg(F.count_if(~F.col("_new")), F.count_if("_new"), F.max("_id"))
            .collect()
        )
        id_start = 1 + max((r[-1] for r in counts if r[-1] is not None), default=0)
        # a group of target rows only (its value null) attempted nothing
        counts = [r[:-1] for r in counts if r[-3]]
        attempted = sum(r[-2] for r in counts)
        inserted = sum(r[-1] for r in counts)
        per_group = [(g, n, a - n) for g, a, n in counts] if group_col else None
        if inserted:
            out = new_rows
            if id_col is not None:
                out = assign_ids(out, id_col, start=id_start, order_by=[*group, *keys])
            cast = [F.col(f.name).cast(f.dataType) for f in schema.fields]
            out.select(cast).write.mode("append").parquet(target_path)
    finally:
        new_rows.unpersist()

    return AppendResult(
        attempted=attempted,
        inserted_new=inserted,
        ignored_duplicates=attempted - inserted,
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
    (scr/etl_relational.py:130-135) with one action: the existing
    dimension and the batch's distinct keys come to the driver together
    (a dimension is small by definition), the new keys get contiguous ids
    from max(existing)+1 there and are appended. Returns the up-to-date
    dimension as a driver-built frame, so joining it needs no re-read.

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
    first = F.min(group_col) if group_col else F.lit(None)
    rows = (
        values.where(F.col(natural_key).isNotNull())
        .groupBy(natural_key)
        .agg(F.lit(None).cast("long").alias(surrogate_key), first.alias("_first"))
    )
    if _exists(dim_path):
        no_group = F.lit(None).cast(rows.schema["_first"].dataType)
        dim = spark.read.schema(dim_schema).parquet(dim_path)
        rows = dim.select(natural_key, surrogate_key, no_group).unionAll(rows)
    ids, new_keys = {}, []
    for key, sid, first_group in rows.collect():
        if sid is not None:
            ids[key] = sid
        else:
            new_keys.append((first_group, key))
    # Python's str order is Spark's binary string order
    new_keys = sorted(k for k in new_keys if k[1] not in ids)
    start = 1 + max(ids.values(), default=0)
    new_rows = [(start + i, key) for i, (_, key) in enumerate(new_keys)]
    if new_rows:
        local_frame(spark, new_rows, dim_schema).coalesce(1).write.mode("append").parquet(
            dim_path
        )
    return local_frame(spark, [(i, k) for k, i in ids.items()] + new_rows, dim_schema)

