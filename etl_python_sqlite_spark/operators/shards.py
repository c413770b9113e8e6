"""Training-shard writer: deterministic, globally ordered WebDataset tar
shards for packed training data.

A training job wants shards that are globally range-ordered so shard N's
content is a stable function of the data (reshuffling the cluster must
not reshuffle the curriculum), and many-per-executor so stragglers
rebalance. That is ``repartitionByRange`` (one range-partitioned
shuffle — sampled bounds, no driver collect) + ``sortWithinPartitions``
(merge-sort inside each shard, no extra exchange).
"""

from __future__ import annotations

from pathlib import Path
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.portable import phash60

_SHUF = "_spark_graft_shuffle_key"


def _with_shuffle_key(
    df: DataFrame, cols: Sequence[str], salt: str
) -> DataFrame:
    """Seeded decorrelated permutation key: ``phash60(salt ⊕ key)``.

    Deterministic across reruns for the same (data, salt) — reshuffling
    the cluster does not reshuffle the curriculum — while destroying
    any correlation with the natural key order (training loaders want
    i.i.d.-looking shards, not curriculum order). A different ``salt``
    yields an independent permutation. ``\\x1f`` separates the salt and
    key parts, and every field carries an explicit null FLAG —
    ``concat_ws`` SKIPS null operands (code-review r10), so without the
    flag ('a', NULL) and (NULL, 'a') would alias, and an all-NULL key
    would hash the salt alone, clumping those rows together."""
    parts: list = [F.lit(salt)]
    for c in cols:
        col = F.col(c)
        parts.append(F.when(col.isNull(), "1").otherwise("0"))
        parts.append(F.coalesce(col.cast("string"), F.lit("")))
    return df.withColumn(_SHUF, phash60(F.concat_ws("\x1f", *parts)))


def write_webdataset_shards(
    df: DataFrame,
    path: str | Path,
    key_col: str,
    members: dict[str, str],
    num_shards: int,
    shuffle_salt: str | None = None,
) -> None:
    """WebDataset-style tar shards — the standard packaging for
    multimodal training loaders (one POSIX tar per shard; members named
    ``{key}.{ext}``, consecutive same-key members form one sample;
    format per the public webdataset spec, github.com/webdataset).

    ``members`` maps member EXTENSION → source column (``bytes``
    columns land verbatim, strings UTF-8-encoded); ``key_col`` must be
    unique per row. Shards are range-partitioned and sorted by key:
    keys are globally ordered across shards, and a rewrite of the same
    data READ THE SAME WAY is BYTE-identical (tar metadata pinned:
    mtime 0, uid/gid 0, mode 0644, USTAR) — diffable shards. Caveat,
    stated rather than overclaimed: ``repartitionByRange`` samples its
    bounds per input partition, so a DIFFERENT upstream layout
    (changed file splits / parallelism) can move boundary keys between
    adjacent shards; exact layout-independence would need
    rank-computed cuts.

    Two-phase commit on a non-transactional filesystem: each task
    streams its tar to a temp name carrying THIS JOB's id and the
    DRIVER renames the winning attempts into place — a lost speculative
    attempt leaves only a temp file, which the commit sweep deletes.
    The sweep is scoped to this job's id: a CONCURRENT writer's
    in-progress temp files are never touched. Per-row work is plain
    streaming IO; nothing is ever collected.

    FILESYSTEM CONTRACT: tasks open ``path`` with
    plain ``tarfile`` — every executor AND the driver must see the same
    directory at the same POSIX path (local mode, NFS/Lustre mounts, a
    FUSE-mounted object store). On a deployment without a shared mount
    (raw HDFS/S3 URIs) this writer does not apply — write parquet
    shards through Spark's own committers and materialize tars at the
    loader. The driver-side
    rename + sweep go through the Hadoop FileSystem API (scheme-aware,
    the repo rule), so any mounted scheme the driver resolves works.

    ``shuffle_salt``: shard assignment and member order become a seeded
    pseudo-random permutation (``phash60(salt || key)``; key tiebreak)
    instead of key order — decorrelated shards without a
    nondeterministic ``rand()`` that would break replay. Byte-identical
    replays still hold for the same salt.
    """
    import tarfile
    import uuid

    out_dir = Path(path)
    out_dir.mkdir(parents=True, exist_ok=True)
    job_id = uuid.uuid4().hex
    exts = sorted(members)
    cols = [key_col] + [members[e] for e in exts]

    def _write_partition(it):
        import io as _io
        import os

        pid = None
        tmp = None
        tf = None
        n = 0
        for row in it:
            if tf is None:
                from pyspark import TaskContext

                pid = TaskContext.get().partitionId()
                tmp = str(
                    out_dir
                    / f".shard-{pid:05d}.inprogress-{job_id}-{uuid.uuid4().hex}"
                )
                tf = tarfile.open(tmp, "w", format=tarfile.USTAR_FORMAT)
            key = str(row[0])
            for ext, val in zip(exts, row[1:]):
                if val is None:
                    continue
                data = val if isinstance(val, (bytes, bytearray)) else str(
                    val
                ).encode("utf-8")
                info = tarfile.TarInfo(name=f"{key}.{ext}")
                info.size = len(data)
                info.mtime = 0
                info.uid = info.gid = 0
                info.mode = 0o644
                tf.addfile(info, _io.BytesIO(bytes(data)))
                n += 1
        if tf is not None:
            tf.close()
            yield (pid, os.path.basename(tmp), n)

    base = df.select(*cols)
    if shuffle_salt is not None:
        base = _with_shuffle_key(base, [key_col], shuffle_salt)
        sort_cols = [_SHUF, key_col]
    else:
        sort_cols = [key_col]
    results = (
        base.repartitionByRange(num_shards, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .select(*cols)  # drop the shuffle key; row[0] stays key_col
        .rdd.mapPartitions(_write_partition)
        .collect()  # bounded: one 3-tuple per non-empty shard
    )

    winners = {}
    for pid, tmpname, _ in results:
        winners[pid] = tmpname  # last winning attempt per partition
    # driver-side commit via the Hadoop FileSystem API (scheme-aware —
    # works for file:// and any mounted scheme the driver resolves)
    spark = df.sparkSession
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    root = hpath(str(out_dir))
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    for pid, tmpname in winners.items():
        dest = hpath(str(out_dir), f"shard-{pid:05d}.tar")
        if fs.exists(dest):
            # HDFS rename won't overwrite: delete-then-rename. NOT
            # atomic — a crash in between leaves the prior shard gone
            # with the temp still present (the temp survives the
            # job-scoped sweep only until a rerun; rerunning the write
            # is the recovery, same as any failed overwrite job).
            fs.delete(dest, False)
        if not fs.rename(hpath(str(out_dir), tmpname), dest):
            # Hadoop reports rename failure by RETURNING false, not
            # raising (code-review r10) — an unchecked call would let
            # the sweep delete the temp and silently drop the shard
            raise IOError(
                f"webdataset commit failed: rename {tmpname} -> "
                f"shard-{pid:05d}.tar returned false"
            )
    # sweep THIS JOB's lost speculative attempts only — an unscoped
    # sweep would unlink a concurrent writer's in-progress files
    marker = f".inprogress-{job_id}-"
    for s in fs.listStatus(root):
        name = s.getPath().getName()
        if name.startswith(".shard-") and marker in name:
            fs.delete(s.getPath(), False)
