"""Unit tests for ``operators.cache.StageMemo``, the one get-or-build
memo behind every shared stage: plain keys and stand-in frames, then
the shared co-occurrence stage on a Spark session."""

from __future__ import annotations

import sys
import threading
import time

import pytest

from etl_python_sqlite_spark.operators.cache import (
    StageMemo,
    release_all,
    unpersist_entry,
)
from tests.conftest import SF_SMOKE


class FakeFrame:
    """Counts what the memo does to a frame: unpersist, tie() release."""

    def __init__(self, cached: bool = True) -> None:
        self.is_cached = cached
        self.unpersists = 0
        self.releases = 0

    def unpersist(self) -> "FakeFrame":
        self.unpersists += 1
        self.is_cached = False
        return self

    def tie(self) -> "FakeFrame":
        self._spark_graft_release = self._release
        return self

    def _release(self) -> None:
        self.releases += 1


def test_double_miss_builds_once():
    """More threads than cores miss together, with a short switch
    interval: the memo lock makes exactly one of them build."""
    memo = StageMemo()
    builds = []
    n = 8
    start = threading.Barrier(n)
    got = []

    def build():
        builds.append(1)
        time.sleep(0.05)  # the other callers arrive mid-build
        return object()

    def grab():
        start.wait()
        got.append(memo.get_or_build("k", build))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=grab) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    assert len(got) == n and all(g is got[0] for g in got)


def test_hit_refreshes_so_the_oldest_entry_is_evicted():
    memo = StageMemo(max_entries=2)
    memo.get_or_build("a", lambda: "A")
    memo.get_or_build("b", lambda: "B")
    # a hit on "a" makes "b" the least recently used
    assert memo.get_or_build("a", lambda: pytest.fail("a is memoized")) == "A"
    memo.get_or_build("c", lambda: "C")
    assert "a" in memo and "c" in memo and "b" not in memo
    assert len(memo) == 2


def test_eviction_frees_only_under_the_unpersist_policy():
    cache_tier = StageMemo(max_entries=1, free=unpersist_entry)
    tied = StageMemo(max_entries=1)
    freed = []
    spy = StageMemo(max_entries=1, free=freed.append)
    a, b = FakeFrame(), FakeFrame().tie()
    cache_tier.get_or_build("k1", lambda: a)
    cache_tier.get_or_build("k2", FakeFrame)
    tied.get_or_build("k1", lambda: b)
    tied.get_or_build("k2", FakeFrame)
    spy.get_or_build("k1", lambda: "entry")
    spy.get_or_build("k2", lambda: "next")
    assert a.unpersists == 1
    # a tied entry is only dereferenced: its finalizer frees it later
    assert (b.unpersists, b.releases) == (0, 0)
    assert freed == ["entry"]


def test_unpersist_policy_leaves_uncached_frames_to_their_finalizers():
    memo = StageMemo(max_entries=1, free=unpersist_entry)
    ckpt_frame = FakeFrame(cached=False).tie()
    memo.get_or_build("k1", lambda: ckpt_frame)
    memo.get_or_build("k2", FakeFrame)
    assert (ckpt_frame.unpersists, ckpt_frame.releases) == (0, 0)


def test_release_all_empties_every_memo_and_frees_each_entry_once():
    cached, tied = FakeFrame(), FakeFrame(cached=False).tie()
    pair = FakeFrame()
    m1 = StageMemo(max_entries=3, free=unpersist_entry)
    m2 = StageMemo(max_entries=3)
    m1.get_or_build("cached", lambda: cached)
    m1.get_or_build("tuple", lambda: ([1.0, 2.0], pair))
    m2.get_or_build("tied", lambda: tied)
    m2.get_or_build("plain", lambda: [("word", 3)])
    release_all()
    assert len(m1) == 0 and len(m2) == 0
    assert cached.unpersists == 1 and pair.unpersists == 1
    assert tied.releases == 1 and tied.unpersists == 0
    release_all()  # nothing left: no second free
    assert (cached.unpersists, tied.releases) == (1, 1)


def test_concurrent_memo_miss_builds_once(spark):
    """Two simultaneous misses (the bench's concurrent graph queries)
    must resolve to ONE shared stage — the lock serializes the build and
    the loser reads the memo instead of double-building and leaking."""
    from etl_python_sqlite_spark.plans import relational as R

    release_all()
    got = []

    def grab():
        got.append(R._cooccurrence_edges(spark, SF_SMOKE))

    try:
        threads = [threading.Thread(target=grab) for _ in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert len(got) == 2 and got[0] is got[1]
    finally:
        release_all()
