"""Streaming NB trainer (streaming/pipeline.maintain_nb_stream): the
accumulated class-count state equals batch-counting the union of all
micro-batches (mergeable sufficient statistic — order-invariant), a
fresh-checkpoint rerun reproduces identical state (versioned-state
exactly-once), and the derived weights classify planted docs like the
batch operator."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.slow  # heavy e2e tier (pytest.ini default deselects)

SCHEMA = "doc_id long, text string, is_pos boolean"
B = 64  # small bucket table keeps the test's python recount cheap

GOOD = "excellent thoughtful prose with careful measured analysis"
JUNK = "buy now click here spam spam free offer"


def _batches():
    out = []
    vid = 0
    for b in range(3):
        rows = []
        for i in range(6):
            pos = (i % 2) == 0
            base = GOOD if pos else JUNK
            rows.append((vid, f"{base} tail{b} v{i}", pos))
            vid += 1
        out.append(rows)
    return out


def _ph(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _recount(rows):
    """Independent python recount of the per-bucket class counts over
    the documented feature definition (lowercased adjacent word
    bigrams, phash60 % B)."""
    cp: dict[int, int] = {}
    cn: dict[int, int] = {}
    for _, text, pos in rows:
        ws = [w for w in text.lower().split(" ") if w]
        for a, b in zip(ws, ws[1:]):
            bkt = _ph(f"{a} {b}") % B
            (cp if pos else cn)[bkt] = (cp if pos else cn).get(bkt, 0) + 1
    return {
        bkt: (cp.get(bkt, 0), cn.get(bkt, 0))
        for bkt in set(cp) | set(cn)
    }


def _run(spark, tmp_path, src, ckpt, state):
    from etl_python_sqlite_spark.streaming.pipeline import maintain_nb_stream

    s = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        maintain_nb_stream(s, state, n_buckets=B)
        .option("checkpointLocation", str(tmp_path / ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _snap(spark, state):
    from etl_python_sqlite_spark.streaming.pipeline import read_state

    return {
        r["bucket"]: (int(r["cp"]), int(r["cn"]))
        for r in read_state(spark, state).collect()
    }


def test_streamed_counts_equal_batch_union_and_replay(spark, tmp_path):
    batches = _batches()
    src = str(tmp_path / "nb_src")
    for rows in batches:
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    state = str(tmp_path / "nb_state")
    _run(spark, tmp_path, src, "nb_ck1", state)
    got = _snap(spark, state)
    assert got == _recount([r for b in batches for r in b])

    # exactly-once: fresh checkpoint, same source → identical state
    _run(spark, tmp_path, src, "nb_ck2", state)
    assert _snap(spark, state) == got


def test_state_weights_classify_like_the_batch_formula(spark, tmp_path):
    from etl_python_sqlite_spark.streaming.pipeline import (
        nb_state_weights,
        read_state,
    )

    batches = _batches()
    src = str(tmp_path / "nw_src")
    for rows in batches:
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    state = str(tmp_path / "nw_state")
    _run(spark, tmp_path, src, "nw_ck", state)

    # independent python weights from the recounted state
    counts = _recount([r for b in batches for r in b])
    np_ = sum(c for c, _ in counts.values())
    nn = sum(c for _, c in counts.values())
    expect = {
        bkt: min(
            max((10**6 * (cp + 1) * (nn + B)) // ((cn + 1) * (np_ + B)), 1),
            10**12,
        )
        for bkt, (cp, cn) in counts.items()
    }
    w = {
        r["bucket"]: int(r["w"])
        for r in nb_state_weights(
            read_state(spark, state), n_buckets=B
        ).collect()
    }
    assert w == expect

    # the streamed model separates the planted classes: score a held-out
    # doc of each class by the batch decision rule (mean ratio vs 1)
    def score(text):
        ws = [x for x in text.lower().split(" ") if x]
        feats = [_ph(f"{a} {b}") % B for a, b in zip(ws, ws[1:])]
        s = sum(w.get(f, 0) for f in feats if f in w)
        n = sum(1 for f in feats if f in w)
        return s, n

    s_good, n_good = score(GOOD + " unseen")
    s_junk, n_junk = score(JUNK + " unseen")
    assert s_good > n_good * 10**6
    assert s_junk < n_junk * 10**6
