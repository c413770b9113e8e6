"""Scoped persist lifecycle — cache intermediates for exactly as long as
the result that needs them.

Several operators persist derived frames because Catalyst re-inlines a
non-cached subplan into BOTH sides of a self-join (the measured hazards
are documented at each call site).  A bare ``.persist()`` is correct for
the query but wrong for the session: the CacheManager holds the entry
until an explicit ``unpersist()``, so in a long-lived multi-tenant
session every dedup/LSH call pins executor storage forever — unbounded
storage-memory growth and eviction pressure at warehouse scale.

``tie(result, *cached)`` scopes the cache to the RESULT's lifetime
instead: a ``weakref.finalize`` on the returned DataFrame unpersists the
intermediates the moment the caller drops the result (CPython refcounting
makes that prompt), or immediately via ``release(result)``.  The
intermediates stay strongly referenced by the finalizer until then, so
the cached plans remain valid for every action the caller runs.

Eager ``localCheckpoint`` vs tied lazy persist is a measured per-site
choice. The dedup candidate sets use a build-time checkpoint (the
narrowest stage; same-session A/B: downstream plans over the
materialized RDD beat re-analyzed full-lineage trees by ~25% at sf0.1),
and ``tie`` frees the checkpoint blocks deterministically on drop via
the LogicalRDD backing handle (``_release_frame``) — without that, only
the ASYNC ContextCleaner reclaims them. The cost of a checkpoint is
plan OPACITY: everything upstream becomes "Scan ExistingRDD" to any
later ``.explain``, so the plan-quality gates cover the pre-checkpoint
join shapes through dedicated subplan tests
(tests/test_plan_quality.py::test_checkpointed_candidate_subplans)
rather than the contract query's executed plan. Operators whose frames
are consumed within a single action keep tied lazy persists — free at
build time, full Catalyst plan visible.

Composition rule: an operator that derives a new frame from a tied
result must keep the tied result alive as long as its own output —
pass it via ``keepalive=`` so the chain of finalizers unwinds outward-in.

Shared-stage memos. A stage that two or more queries read (a histogram,
a pair set, a word-array frame) lives in a :class:`StageMemo` for the
session, stored as a persisted frame or an eager checkpoint — both
session-scoped, like the memo key, which carries the applicationId.
Every memo keeps the same contract:

* the key is :func:`stage_key` — (applicationId, sf_dir,
  ``data_fingerprint`` of the source table, *params), so a dataset
  rewritten under an unchanged path is never served a stale stage;
* one re-entrant lock per memo is held across the whole get-or-build,
  so two concurrent consumers that miss together build the stage once
  (per memo, not global: one lock would serialize the builds of
  unrelated stages inside the concurrent bench);
* a hit refreshes its entry and a full memo evicts the least recently
  used entry;
* the ``free`` policy, fixed where the memo is defined, says what an
  eviction does. Cache-tier memos pass :func:`unpersist_entry`: an
  unpersist under a live consumer only makes it recompute, and frames
  that are not cached are skipped. Checkpoint-backed entries drop the
  reference only: their ``tie`` finalizer frees the blocks once the
  last consumer lets go, because freeing them earlier would fail that
  consumer. Plain-Python entries own nothing;
* :func:`release_all` (and ``StageMemo.clear``) frees every entry NOW —
  the explicit release path for tests and session teardown.
"""

from __future__ import annotations

import threading
import weakref
from collections import OrderedDict
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

_RELEASE_ATTR = "_spark_graft_release"


def _release_frame(f: DataFrame) -> None:
    """Free a tied frame's storage now: unpersist its cache entry AND,
    for ``localCheckpoint`` frames, the checkpoint RDD's blocks.

    Checkpoint blocks are otherwise reclaimed only by the ASYNC
    ContextCleaner after a JVM GC — minutes of dangling storage in a
    long-lived session, which the deterministic-release gate
    (tests/test_cache_lifecycle.py) rightly rejects. A checkpoint
    frame's analyzed plan is a LogicalRDD whose backing RDD we can
    unpersist directly; for every other plan shape the attribute probe
    fails and we fall through silently (the cache unpersist above
    already handled it). Only ever called once nothing references the
    frame, so invalidating the checkpoint is safe."""
    try:
        f.unpersist()
    except Exception:
        pass  # session already stopped — nothing left to release
    try:
        f._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # not a LogicalRDD-backed frame (or session gone)


def tie(
    result: DataFrame,
    *cached: DataFrame,
    keepalive: Iterable[DataFrame] = (),
) -> DataFrame:
    """Unpersist ``cached`` when ``result`` is garbage-collected (or on
    ``release(result)``).  ``keepalive`` frames are merely held — their
    own finalizers fire once this result lets go of them."""
    frames = tuple(cached)
    keep = tuple(keepalive)

    def _release(_frames=frames, _keep=keep) -> None:
        for f in _frames:
            _release_frame(f)

    fin = weakref.finalize(result, _release)
    # the JVM gateway may already be gone at interpreter shutdown; skip
    # the atexit sweep and let the process teardown reclaim everything
    fin.atexit = False
    setattr(result, _RELEASE_ATTR, fin)
    return result


def release(df: DataFrame) -> None:
    """Explicitly run a frame's tied cleanup now (idempotent, optional —
    dropping the frame has the same effect)."""
    fin = getattr(df, _RELEASE_ATTR, None)
    if fin is not None:
        fin()


def stage_key(
    spark: SparkSession, sf_dir: str, table: str, *params
) -> tuple:
    """The memo key of a shared stage built from ``{sf_dir}/{table}``:
    (applicationId, sf_dir, file-listing fingerprint, *params). The
    fingerprint is taken before any memo lock."""
    from etl_python_sqlite_spark.sources.parquet import data_fingerprint

    return (
        spark.sparkContext.applicationId,
        sf_dir,
        data_fingerprint(spark, sf_dir, table),
        *params,
    )


def _frames(entry) -> tuple:
    """The frames a memo entry holds: the entry itself, or the frame
    members of a tuple entry."""
    items = entry if isinstance(entry, tuple) else (entry,)
    return tuple(f for f in items if hasattr(f, "unpersist"))


def unpersist_entry(entry) -> None:
    """The cache-tier eviction policy: unpersist the entry's cached
    frames. Checkpoint-backed frames are not cached, so this leaves
    them to their finalizers."""
    for f in _frames(entry):
        if getattr(f, "is_cached", False):
            try:
                f.unpersist()
            except Exception:
                pass  # session already stopped


def _release_entry(entry) -> None:
    """Free everything a memo entry holds, now: tied checkpoint blocks
    and caches, cached frames."""
    for f in _frames(entry):
        release(f)
    unpersist_entry(entry)


_MEMOS: weakref.WeakSet = weakref.WeakSet()


class StageMemo:
    """Session memo of one shared stage (see the module docstring for
    the contract). ``free`` runs on each evicted entry; ``None`` drops
    the reference only."""

    def __init__(
        self,
        max_entries: int = 2,
        free: Callable[[object], None] | None = None,
    ) -> None:
        self.max_entries = max_entries
        self.free = free
        self._entries: OrderedDict = OrderedDict()
        self._lock = threading.RLock()
        _MEMOS.add(self)

    def __len__(self) -> int:
        return len(self._entries)

    def __contains__(self, key) -> bool:
        return key in self._entries

    def get_or_build(self, key, build: Callable[[], object]):
        """The entry for ``key``, built by ``build()`` on a miss."""
        with self._lock:
            if key in self._entries:
                self._entries.move_to_end(key)
                return self._entries[key]
            entry = build()
            while len(self._entries) >= self.max_entries:
                _, old = self._entries.popitem(last=False)
                if self.free is not None:
                    self.free(old)
            self._entries[key] = entry
            return entry

    def clear(self) -> None:
        """Forget every entry and free its storage now."""
        with self._lock:
            while self._entries:
                _, old = self._entries.popitem(last=False)
                _release_entry(old)


def release_all() -> None:
    """Free every entry of every live :class:`StageMemo`."""
    for memo in list(_MEMOS):
        memo.clear()
