"""The WebDataset training-shard writer and source."""

from __future__ import annotations

import tarfile

from etl_python_sqlite_spark.operators.shards import write_webdataset_shards


def test_webdataset_shards_round_trip_and_determinism(spark, tmp_path):
    """WebDataset tar shards: samples group by key with all members,
    keys are range-ordered across shards, bytes round-trip verbatim,
    and a rewrite of identical data is BYTE-identical (pinned tar
    metadata)."""
    import hashlib

    rows = [
        (f"k{i:03d}", bytes([i, 255 - i, 0]), f'{{"i": {i}}}')
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "key string, payload binary, meta string")
    out = tmp_path / "wds"
    write_webdataset_shards(
        df, out, "key", {"bin": "payload", "json": "meta"}, num_shards=3
    )

    shards = sorted(out.glob("shard-*.tar"))
    assert 1 <= len(shards) <= 3
    assert not list(out.glob(".shard-*"))  # temp files swept
    seen = {}
    order = []
    for sh in shards:
        with tarfile.open(sh) as tf:
            names = tf.getnames()
            # members appear key-grouped and key-sorted within a shard
            keys = [n.rsplit(".", 1)[0] for n in names]
            assert keys == sorted(keys)
            order.extend(dict.fromkeys(keys))
            for n in names:
                seen[n] = tf.extractfile(n).read()
    # global range order across shards
    assert order == sorted(order)
    for i in range(20):
        assert seen[f"k{i:03d}.bin"] == bytes([i, 255 - i, 0])
        assert seen[f"k{i:03d}.json"] == f'{{"i": {i}}}'.encode()

    digests1 = [hashlib.md5(p.read_bytes()).hexdigest() for p in shards]
    write_webdataset_shards(
        df, out, "key", {"bin": "payload", "json": "meta"}, num_shards=3
    )
    digests2 = [
        hashlib.md5(p.read_bytes()).hexdigest()
        for p in sorted(out.glob("shard-*.tar"))
    ]
    assert digests1 == digests2


def test_training_shards_seeded_shuffle(spark, tmp_path):
    """shuffle_salt: deterministic across reruns for the same salt,
    decorrelated from key order, independent across salts, and the
    shuffle key never leaks into the shards."""
    from pathlib import Path

    df = spark.createDataFrame(
        [(i, f"p{i}") for i in range(500)], "seq_id long, payload string"
    )

    def run(out, salt):
        write_webdataset_shards(
            df, out, key_col="seq_id", members={"txt": "payload"},
            num_shards=4, shuffle_salt=salt,
        )
        rows = []
        for tar in sorted(Path(out).glob("shard-*.tar")):
            with tarfile.open(tar) as tf:
                names = tf.getnames()
            assert all(n.endswith(".txt") for n in names)
            rows += [int(n.split(".", 1)[0]) for n in names]
        return rows

    a1 = run(str(tmp_path / "a1"), "salt-a")
    a2 = run(str(tmp_path / "a2"), "salt-a")
    b1 = run(str(tmp_path / "b1"), "salt-b")
    assert a1 == a2                      # same salt: byte-stable layout
    assert sorted(a1) == list(range(500))
    assert a1 != b1                      # different salt: new permutation
    assert a1 != sorted(a1)              # decorrelated from key order
    # decorrelation beyond mere inequality: adjacent-key runs are rare
    adjacent = sum(1 for x, y in zip(a1, a1[1:]) if y == x + 1)
    assert adjacent < 25


def test_webdataset_shards_seeded_shuffle(spark, tmp_path):

    df = spark.createDataFrame(
        [(f"k{i:04d}", f"body{i}") for i in range(200)],
        "key string, txt string",
    )

    def member_order(out, salt):
        write_webdataset_shards(
            df, out, key_col="key", members={"txt": "txt"},
            num_shards=3, shuffle_salt=salt,
        )
        names = []
        import pathlib

        for tar in sorted(pathlib.Path(out).glob("shard-*.tar")):
            with tarfile.open(tar) as tf:
                names += [m.name for m in tf.getmembers()]
        return names

    o1 = member_order(str(tmp_path / "w1"), "s")
    o2 = member_order(str(tmp_path / "w2"), "s")
    o3 = member_order(str(tmp_path / "w3"), "t")
    assert o1 == o2
    assert o1 != o3
    assert sorted(o1) == [f"k{i:04d}.txt" for i in range(200)]
    assert o1 != sorted(o1)


def test_webdataset_roundtrip(spark, tmp_path):
    """The WebDataset reader (r11) inverts the writer: keys, member
    bytes and NULL members all survive; one task per shard; member
    extensions discoverable from the first sample."""
    from etl_python_sqlite_spark.operators.shards import (
        write_webdataset_shards,
    )
    from etl_python_sqlite_spark.sources.webdataset import (
        discover_member_extensions,
        read_webdataset,
    )

    rows = [
        (i, f"text body {i}".encode(), None if i % 5 == 0 else f'{{"i":{i}}}')
        for i in range(37)
    ]
    df = spark.createDataFrame(
        rows, "sample_id long, payload binary, meta string"
    )
    out = str(tmp_path / "wds")
    write_webdataset_shards(
        df, out, key_col="sample_id",
        members={"bin": "payload", "json": "meta"}, num_shards=3,
    )
    import glob
    tars = sorted(glob.glob(f"{out}/*.tar"))
    assert len(tars) == 3
    assert discover_member_extensions(tars[0]) == ["bin", "json"]

    back = read_webdataset(spark, out)
    got = {int(r["key"]): r for r in back.collect()}
    assert set(got) == set(range(37))
    for i, payload, meta in rows:
        r = got[i]
        assert bytes(r["bin"]) == payload
        if meta is None:
            assert r["json"] is None  # missing member -> NULL
        else:
            assert bytes(r["json"]).decode() == meta
    # one task per shard: partition count equals tar count
    assert back.rdd.getNumPartitions() == 3
    # explicit member subset: extra extensions ignored
    only_bin = read_webdataset(spark, out, members=["bin"])
    assert only_bin.columns == ["key", "shard", "bin"]
    assert only_bin.count() == 37


def test_webdataset_discovery_sees_sparse_members(spark, tmp_path):
    """A member NULL for every key in shard 0's range must still be
    discovered (the writer skips NULL members; discovery sweeps ALL
    shards' headers, not just the first)."""
    from etl_python_sqlite_spark.operators.shards import (
        write_webdataset_shards,
    )
    from etl_python_sqlite_spark.sources.webdataset import read_webdataset

    rows = [
        (i, f"t{i}".encode(), None if i < 20 else f"m{i}")
        for i in range(37)
    ]
    df = spark.createDataFrame(
        rows, "sample_id long, payload binary, meta string"
    )
    out = str(tmp_path / "wds_sparse")
    write_webdataset_shards(
        df, out, key_col="sample_id",
        members={"bin": "payload", "json": "meta"}, num_shards=3,
    )
    back = read_webdataset(spark, out)  # members discovered
    assert set(back.columns) == {"key", "shard", "bin", "json"}
    got = {int(r["key"]): r for r in back.collect()}
    assert got[0]["json"] is None and bytes(got[36]["json"]) == b"m36"


def test_wds_scratch_sweep_age_floor(tmp_path, monkeypatch):
    """Dead sessions' scratch dirs sweep once past the age floor;
    fresh foreign dirs (a concurrent session) and the current dir
    survive."""
    import os
    import time

    from etl_python_sqlite_spark.plans import ext as E

    old_dir = "/tmp/spark_graft_wds_deadbeef0001"
    fresh_dir = "/tmp/spark_graft_wds_peer00000001"
    keep_dir = "/tmp/spark_graft_wds_current00001"
    for d in (old_dir, fresh_dir, keep_dir):
        os.makedirs(d, exist_ok=True)
    past = time.time() - (E._WDS_ORPHAN_AGE_SEC + 3600)
    os.utime(old_dir, (past, past))
    os.utime(keep_dir, (past, past))  # even an old keep dir survives
    try:
        E._sweep_stale_wds_scratch(keep=keep_dir)
        assert not os.path.exists(old_dir)
        assert os.path.exists(fresh_dir)
        assert os.path.exists(keep_dir)
    finally:
        for d in (old_dir, fresh_dir, keep_dir):
            import shutil
            shutil.rmtree(d, ignore_errors=True)
