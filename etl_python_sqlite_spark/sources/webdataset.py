"""WebDataset tar-shard READER — the loader side of
``operators/shards.write_webdataset_shards`` (format per the public
webdataset spec, github.com/webdataset: one POSIX tar per shard,
members named ``{key}.{ext}``, the key is the member name up to the
FIRST period, consecutive same-key members form one sample).

The reference engine has no packaging path at all; this closes the
round trip so a training pipeline can both PACK shards (the writer's
two-phase commit) and consume them back through the engine — e.g. to
re-curate an already-packed dataset without the original parquet.

Scale shape: one task per tar shard (the natural WebDataset unit — a
loader process streams one shard), each task streaming ``tarfile``
members sequentially; nothing collects, nothing decodes. The sample
grouping is within-member-order (the spec's contiguity rule), so no
shuffle exists anywhere in the read.

FILESYSTEM CONTRACT (same as the writer): executors
open shard paths with plain ``tarfile`` — every executor must see the
same directory at the same POSIX path (local mode, NFS/Lustre, a
FUSE-mounted object store). On raw HDFS/S3 URIs this reader does not
apply; read the parquet shards instead.
"""

from __future__ import annotations

import tarfile
from pathlib import Path
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def _sanitize(ext: str) -> str:
    """Member extension → column name (dots in compound extensions
    like ``seq.json`` become underscores)."""
    return ext.replace(".", "_")


def discover_member_extensions(tar_paths) -> list[str]:
    """The union of member extensions across the given shards —
    driver-side peek over tar HEADERS only (seek-based, no payload
    reads). ALL shards, not just the first: the writer skips NULL
    members and range-partitions by key, so a sparse member can be
    absent from any one shard's entire key range (a first-shard-only
    peek would silently drop that column corpus-wide). At a shard count
    where a full header sweep is too slow, pass ``members`` explicitly
    to :func:`read_webdataset` instead — an at-scale loader knows its
    schema."""
    if isinstance(tar_paths, (str, Path)):
        tar_paths = [tar_paths]
    exts: set[str] = set()
    for tp in tar_paths:
        with tarfile.open(str(tp), "r") as tf:
            for m in tf:
                if not m.isfile():
                    continue
                _, _, ext = m.name.partition(".")
                if ext:
                    exts.add(ext)
    if not exts:
        raise ValueError(f"no members in {list(tar_paths)}")
    return sorted(exts)


def read_webdataset(
    spark: SparkSession,
    path: str | Path,
    members: list[str] | None = None,
) -> DataFrame:
    """(key string, shard string, <one binary column per extension>)
    from every ``*.tar`` under ``path``.

    ``members`` is the expected extension list; omitted, it is
    discovered from ALL shards' tar headers (driver-side, no payload
    reads — see :func:`discover_member_extensions` for why one shard
    is not enough and when to pass ``members`` instead). A sample
    missing a member yields NULL in that column; members outside the
    list are ignored (forward-compatible with shards that carry extra
    modalities). Keys follow the spec: everything before the FIRST
    period of the member name.

    One task per shard streams the tar's members in order (no header
    sweep, no payload seeks). A member-range split reader, which swept
    the headers on the driver and gave each task a sample range, lost
    to this form at every size timed on a 4-core box (sf0.1's four
    1.3 MB shards, split 4 and 8 ways; see ``CHANGES.md``); it comes
    back from git history only with a measured win.
    """
    tars = sorted(str(p) for p in Path(path).glob("*.tar"))
    if not tars:
        raise ValueError(f"no .tar shards under {path}")
    if members is None:
        members = discover_member_extensions(tars)
    exts = sorted(members)
    cols = ["key", "shard"] + [_sanitize(e) for e in exts]
    schema = "key string, shard string, " + ", ".join(
        f"{_sanitize(e)} binary" for e in exts
    )

    def _read(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os

        for pdf in batches:
            for tp in pdf["tar_path"]:
                shard = os.path.basename(tp)
                rows: list[tuple] = []
                cur_key = None
                cur: dict = {}

                def _flush() -> None:
                    if cur_key is not None:
                        rows.append(
                            (cur_key, shard)
                            + tuple(cur.get(e) for e in exts)
                        )

                with tarfile.open(tp, "r") as tf:
                    for m in tf:
                        if not m.isfile():
                            continue
                        key, _, ext = m.name.partition(".")
                        if key != cur_key:
                            _flush()
                            cur_key, cur = key, {}
                        if ext in exts:
                            f = tf.extractfile(m)
                            cur[ext] = f.read() if f is not None else None
                    _flush()
                yield pd.DataFrame(rows, columns=cols)

    paths = spark.createDataFrame(
        [(t,) for t in tars], "tar_path string"
    ).repartition(len(tars))  # one task per shard — the loader unit
    return paths.mapInPandas(_read, schema=schema)
