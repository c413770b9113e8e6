"""Curation operators: bigram-LM scoring, DSIR importance weights,
leakage-free splits (operators/curation.py) and SCD2 interval building
(operators/snapshot.py) — each pinned against a CPython re-derivation on
toy corpora where every number is hand-checkable."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_python_sqlite_spark.operators.curation import (
    bigram_lm_score,
    doc_bigrams,
    dsir_importance,
    leakage_free_split,
)
from etl_python_sqlite_spark.operators.snapshot import scd2_intervals


def _py_bigrams(text: str) -> list[tuple[str, str]]:
    w = text.strip().lower().split()
    return list(zip(w, w[1:]))


CORPUS = [
    (1, "the cat sat on the mat", "src0"),
    (2, "the cat sat on the hat", "src0"),
    (3, "a completely different sentence here", "src1"),
    (4, "the cat sat on the mat", "src1"),  # dup of 1
    (5, "  the   cat  ", "src1"),  # whitespace runs collapse
    (6, "one", "src1"),  # <2 words -> no bigrams
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        CORPUS, "doc_id long, text string, source string"
    )


def test_doc_bigrams_matches_python(spark, docs):
    got = sorted(
        (r["doc_id"], r["w1"], r["w2"])
        for r in doc_bigrams(docs).collect()
    )
    want = sorted(
        (i, a, b) for i, t, _ in CORPUS for a, b in _py_bigrams(t)
    )
    assert got == want


def test_bigram_lm_score_exact(spark, docs):
    # corpus bigram counts from the python reference
    from collections import Counter

    c2 = Counter(bg for _, t, _ in CORPUS for bg in _py_bigrams(t))
    c1 = Counter()
    for (w1, _), n in c2.items():
        c1[w1] += n
    v = len({w2 for _, w2 in c2})
    rows = {r["doc_id"]: r for r in bigram_lm_score(docs).collect()}
    for i, t, _ in CORPUS:
        bgs = _py_bigrams(t)
        if not bgs:
            assert i not in rows  # <2 words yields no score row
            continue
        sum_p = sum(
            (1_000_000 * (c2[bg] + 1)) // (c1[bg[0]] + v) for bg in bgs
        )
        assert rows[i]["n_bigrams"] == len(bgs)
        assert rows[i]["sum_p_micro"] == sum_p
        n = len(bgs)
        assert rows[i]["mean_p"] == ((2 * sum_p + n) // (2 * n)) / 1e6
    # the template pair (docs 1/4) must outscore the one-off doc 3
    assert rows[1]["mean_p"] > rows[3]["mean_p"]


def test_dsir_importance_prefers_target_like_docs(spark, docs):
    tgt = docs.filter(F.col("source") == "src0")
    out = {r["doc_id"]: r for r in dsir_importance(docs, tgt).collect()}
    # doc 4 is word-for-word a src0 doc: its mean per-feature weight must
    # exceed doc 3 (vocabulary disjoint from the target)
    w4 = out[4]["weight_micro"] / out[4]["n_feat"]
    w3 = out[3]["weight_micro"] / out[3]["n_feat"]
    assert w4 > w3
    assert 6 not in out  # <2-word docs have no features, hence no row
    # every weight is a positive exact integer
    assert all(r["weight_micro"] > 0 for r in out.values())


def test_dsir_weights_exact_python_replay(spark, docs):
    from collections import Counter

    from etl_python_sqlite_spark.functions.portable import MINHASH_MOD_P  # noqa: F401
    import hashlib

    B = 1024

    def bucket(w1, w2):
        h = hashlib.md5(f"{w1} {w2}".encode()).hexdigest()[:15]
        return int(h, 16) % B

    feats = {
        i: Counter(bucket(a, b) for a, b in _py_bigrams(t))
        for i, t, _ in CORPUS
    }
    cr = Counter()
    ct = Counter()
    for i, t, s in CORPUS:
        cr.update(feats[i])
        if s == "src0":
            ct.update(feats[i])
    nr, nt = sum(cr.values()), sum(ct.values())
    ratio = {
        b: (1_000_000 * (ct[b] + 1) * (nr + B)) // ((cr[b] + 1) * (nt + B))
        for b in cr
    }
    tgt = docs.filter(F.col("source") == "src0")
    out = {r["doc_id"]: r for r in dsir_importance(docs, tgt).collect()}
    for i, t, _ in CORPUS:
        if not feats[i]:
            assert i not in out
            continue
        want = sum(n * ratio[b] for b, n in feats[i].items())
        assert out[i]["weight_micro"] == want, i


def test_leakage_free_split_group_coherent(spark, docs):
    out = {r["doc_id"]: r for r in leakage_free_split(docs).collect()}
    assert len(out) == len(CORPUS)
    # exact dups share group AND split
    assert out[1]["group_id"] == out[4]["group_id"] == 1
    assert out[1]["split"] == out[4]["split"]
    # non-dups get their own group
    assert out[3]["group_id"] == 3
    assert all(r["split"] in {"train", "val", "test"} for r in out.values())


def test_leakage_free_split_proportions(spark):
    big = spark.range(3000).selectExpr(
        "id AS doc_id", "concat('unique text ', id) AS text"
    )
    frac = {
        r["split"]: r["n"]
        for r in leakage_free_split(big)
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert 0.7 < frac["train"] / 3000 < 0.9
    assert 0.05 < frac["val"] / 3000 < 0.15
    assert 0.05 < frac["test"] / 3000 < 0.15


def test_scd2_intervals_toy(spark):
    rows = [
        (1, 10, "a"), (1, 20, "a"), (1, 30, "b"), (1, 40, "a"),
        (2, 10, "x"),
    ]
    ev = spark.createDataFrame(
        [(u, float(t), s) for u, t, s in rows],
        "user_id long, t double, event_type string",
    ).select(
        "user_id",
        F.timestamp_seconds("t").alias("ts"),
        "event_type",
        F.monotonically_increasing_id().alias("event_id"),
    )
    iv = scd2_intervals(
        ev, key="user_id", state_col="event_type", ts_col="ts",
        order_cols=["event_id"],
    )
    got = sorted(
        (r["user_id"], r["event_type"], r["valid_from"].timestamp(),
         None if r["valid_to"] is None else r["valid_to"].timestamp(),
         r["is_current"])
        for r in iv.collect()
    )
    assert got == [
        (1, "a", 10.0, 30.0, False),   # run a(10,20) until change at 30
        (1, "a", 40.0, None, True),    # re-entered state opens a NEW row
        (1, "b", 30.0, 40.0, False),
        (2, "x", 10.0, None, True),
    ]


def test_scd2_single_sort_plan(spark):
    """Both windows must share one Exchange+Sort on the key."""
    ev = spark.createDataFrame(
        [(1, 1.0, "a", 1)], "user_id long, t double, event_type string, event_id long"
    ).select("user_id", F.timestamp_seconds("t").alias("ts"), "event_type", "event_id")
    iv = scd2_intervals(
        ev, key="user_id", state_col="event_type", ts_col="ts",
        order_cols=["event_id"],
    )
    plan = iv._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 2


def test_curation_ops_empty_inputs(spark):
    """Empty corpora must yield empty frames, not errors (the zorder/
    compact/snapshot empty-guard convention)."""
    empty = spark.createDataFrame([], "doc_id long, text string, source string")
    assert bigram_lm_score(empty).count() == 0
    assert dsir_importance(empty, empty).count() == 0
    assert leakage_free_split(empty).count() == 0
    ev = spark.createDataFrame([], "user_id long, ts timestamp, event_type string, event_id long")
    assert (
        scd2_intervals(ev, key="user_id", state_col="event_type",
                       ts_col="ts", order_cols=["event_id"]).count() == 0
    )


@pytest.mark.slow  # >8 s e2e/fuzz (default tier deselects)
def test_scd2_apply_changes_merge_equals_rebuild(spark):
    """Planted CDC log split at several boundaries: merging the suffix
    into the prefix-built history must equal the one-shot rebuild —
    including same-state collapse across the boundary, brand-new keys,
    and untouched keys."""
    from datetime import datetime, timedelta

    from etl_python_sqlite_spark.operators.snapshot import (
        scd2_apply_changes,
        scd2_intervals,
    )

    t0 = datetime(2024, 1, 1)
    rows = [
        # user 1: A A B B A   (collapse + changes)
        (1, 1, t0 + timedelta(hours=0), "A"),
        (2, 1, t0 + timedelta(hours=1), "A"),
        (3, 1, t0 + timedelta(hours=2), "B"),
        (4, 1, t0 + timedelta(hours=3), "B"),
        (5, 1, t0 + timedelta(hours=4), "A"),
        # user 2: only early events (must pass through untouched)
        (6, 2, t0 + timedelta(hours=0), "X"),
        (7, 2, t0 + timedelta(hours=1), "Y"),
        # user 3: only late events (brand-new key in the change batch)
        (8, 3, t0 + timedelta(hours=5), "Z"),
        (9, 3, t0 + timedelta(hours=6), "W"),
    ]
    schema = "event_id long, user_id long, ts timestamp, event_type string"
    ev = spark.createDataFrame(
        [(e, u, t, s) for e, u, t, s in rows], schema
    )

    def canon(df):
        return sorted(
            (r["user_id"], r["event_type"], r["valid_from"], r["valid_to"],
             r["is_current"])
            for r in df.collect()
        )

    full = canon(scd2_intervals(
        ev, key="user_id", state_col="event_type", ts_col="ts",
        order_cols=["event_id"],
    ))
    for split_hours in (1.5, 2.5, 4.5, 5.5):
        cut = t0 + timedelta(hours=split_hours)
        hist = scd2_intervals(
            ev.filter(ev.ts < cut), key="user_id",
            state_col="event_type", ts_col="ts", order_cols=["event_id"],
        )
        merged = scd2_apply_changes(
            hist,
            ev.filter(ev.ts >= cut).select(
                "user_id", "event_type", "ts", "event_id"
            ),
            key="user_id", state_col="event_type", ts_col="ts",
            order_cols=["event_id"],
        )
        assert canon(merged) == full, f"split at +{split_hours}h"
        # closed intervals must be pass-through rows (never re-derived):
        # every closed pre-split interval appears verbatim in the merge
        closed_hist = {
            tuple(r) for r in hist.filter(~hist.is_current).collect()
        }
        closed_merged = {
            tuple(r) for r in merged.filter(~merged.is_current).collect()
        }
        assert closed_hist <= closed_merged


def test_scd2_apply_changes_rejects_late_data(spark):
    """A change at/before its key's open-interval start violates the
    append-only contract; silent divergence from rebuild is forbidden —
    validate=True (default) must raise, validate=False opts out."""
    from datetime import datetime, timedelta

    from etl_python_sqlite_spark.operators.snapshot import (
        scd2_apply_changes,
        scd2_intervals,
    )

    t0 = datetime(2024, 1, 1)
    schema = "event_id long, user_id long, ts timestamp, event_type string"
    ev = spark.createDataFrame(
        [(1, 1, t0, "A"), (2, 1, t0 + timedelta(hours=2), "B")], schema
    )
    hist = scd2_intervals(
        ev, key="user_id", state_col="event_type", ts_col="ts",
        order_cols=["event_id"],
    )
    late = spark.createDataFrame(
        [(3, 1, t0 + timedelta(hours=1), "C")], schema  # before open start (t0+2h)
    ).select("user_id", "event_type", "ts", "event_id")
    try:
        scd2_apply_changes(
            hist, late, key="user_id", state_col="event_type", ts_col="ts",
            order_cols=["event_id"],
        )
    except ValueError as e:
        assert "append-only" in str(e)
    else:
        raise AssertionError("expected ValueError on late data")
    # explicit opt-out still computes (caller takes responsibility)
    scd2_apply_changes(
        hist, late, key="user_id", state_col="event_type", ts_col="ts",
        order_cols=["event_id"], validate=False,
    ).count()


def test_scd2_rebuild_keys_late_batch_duckdb_twin(spark):
    """The out-of-order escape hatch (operators/snapshot
    .scd2_rebuild_keys): a LATE batch — events at/before open- or even
    closed-interval starts — is merged by rebuilding only the affected
    keys from their retained change points ∪ the batch. A DuckDB twin
    replays the identical window algebra (change-point flag, _src
    tiebreak with NULLS FIRST, lead() close) and the full result row set
    must match. Cases planted: closed-interval SPLIT, same-state
    collapse against a later boundary, untouched key pass-through,
    brand-new key, and a boundary-timestamp tie (history point sorts
    first via _src=0)."""
    from datetime import datetime, timedelta

    import duckdb

    from etl_python_sqlite_spark.operators.snapshot import (
        scd2_intervals,
        scd2_rebuild_keys,
    )

    t0 = datetime(2024, 1, 1)

    def T(h):
        return t0 + timedelta(hours=h)

    schema = "event_id long, user_id long, ts timestamp, event_type string"
    inorder_rows = [
        # u1: A A B B A  -> A[0,4) B[4,8) A[8,inf); late C@2 SPLITS A[0,4)
        (1, 1, T(0), "A"), (2, 1, T(1), "A"), (3, 1, T(4), "B"),
        (4, 1, T(5), "B"), (5, 1, T(8), "A"),
        # u2: X@0 Y@3; late Y@1 -> X[0,1) then Y collapse -> Y[1,inf)
        (6, 2, T(0), "X"), (7, 2, T(3), "Y"),
        # u3: untouched
        (8, 3, T(0), "Q"), (9, 3, T(2), "R"),
        # u5: M@0 N@4; late P@4 ties the boundary -> N[4,4) zero-length
        (10, 5, T(0), "M"), (11, 5, T(4), "N"),
    ]
    late_rows = [
        (101, 1, T(2), "C"),
        (102, 2, T(1), "Y"),
        (103, 4, T(2), "Z"), (104, 4, T(6), "W"),  # brand-new key
        (105, 5, T(4), "P"),
    ]
    ev = spark.createDataFrame(inorder_rows, schema)
    late = spark.createDataFrame(late_rows, schema).select(
        "user_id", "event_type", "ts", "event_id"
    )
    hist = scd2_intervals(
        ev, key="user_id", state_col="event_type", ts_col="ts",
        order_cols=["event_id"],
    )
    out = scd2_rebuild_keys(
        hist, late, key="user_id", state_col="event_type", ts_col="ts",
        order_cols=["event_id"],
    )
    got = sorted(
        (r["user_id"], r["event_type"], r["valid_from"], r["valid_to"],
         bool(r["is_current"]))
        for r in out.collect()
    )

    # sanity on the planted semantics before the twin
    u1 = [g for g in got if g[0] == 1]
    assert [(g[1], g[2], g[3]) for g in u1] == [
        ("A", T(0), T(2)), ("A", T(8), None), ("B", T(4), T(8)),
        ("C", T(2), T(4)),
    ]
    assert [(g[1], g[2]) for g in got if g[0] == 2] == [
        ("X", T(0)), ("Y", T(1))
    ]

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE inorder (event_id BIGINT, user_id BIGINT,"
        " ts TIMESTAMP, event_type VARCHAR)"
    )
    con.executemany(
        "INSERT INTO inorder VALUES (?,?,?,?)", inorder_rows
    )
    con.execute(
        "CREATE TABLE late (event_id BIGINT, user_id BIGINT,"
        " ts TIMESTAMP, event_type VARCHAR)"
    )
    con.executemany("INSERT INTO late VALUES (?,?,?,?)", late_rows)
    twin = con.execute("""
        WITH flag AS (
          SELECT user_id, event_type, ts, event_id,
                 (lag(event_type) OVER w IS DISTINCT FROM event_type) AS chg
          FROM inorder WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        bounds AS (
          SELECT user_id, event_type, ts, 0 AS src,
                 CAST(NULL AS BIGINT) AS event_id
          FROM flag WHERE chg
        ),
        affected AS (SELECT DISTINCT user_id FROM late),
        uni AS (
          SELECT * FROM bounds WHERE user_id IN (SELECT user_id FROM affected)
          UNION ALL
          SELECT user_id, event_type, ts, 1 AS src, event_id FROM late
        ),
        flag2 AS (
          SELECT user_id, event_type, ts, src, event_id,
                 (lag(event_type) OVER w2 IS DISTINCT FROM event_type) AS chg
          FROM uni WINDOW w2 AS (
            PARTITION BY user_id ORDER BY ts, src, event_id NULLS FIRST)
        ),
        iv AS (
          SELECT user_id, event_type, ts AS valid_from,
                 lead(ts) OVER w3 AS valid_to,
                 lead(ts) OVER w3 IS NULL AS is_current
          FROM flag2 WHERE chg WINDOW w3 AS (
            PARTITION BY user_id ORDER BY ts, src, event_id NULLS FIRST)
        ),
        untouched AS (
          SELECT user_id, event_type, ts AS valid_from,
                 lead(ts) OVER w4 AS valid_to,
                 lead(ts) OVER w4 IS NULL AS is_current
          FROM flag WHERE chg
            AND user_id NOT IN (SELECT user_id FROM affected)
          WINDOW w4 AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT * FROM iv UNION ALL SELECT * FROM untouched
    """).fetchall()
    want = sorted((u, s, vf, vt, bool(cur)) for u, s, vf, vt, cur in twin)
    assert got == want

    # keys= restriction: only u1 rebuilt; u2's late event is ignored and
    # u2's history passes through verbatim
    only1 = spark.createDataFrame([(1,)], "user_id long")
    restricted = scd2_rebuild_keys(
        hist, late, key="user_id", state_col="event_type", ts_col="ts",
        order_cols=["event_id"], keys=only1,
    )
    r2 = {
        (r["user_id"], r["event_type"], r["valid_from"])
        for r in restricted.filter("user_id = 2").collect()
    }
    assert r2 == {(2, "X", T(0)), (2, "Y", T(3))}


@pytest.mark.slow  # >8 s e2e/fuzz (default tier deselects)
def test_scd2_rebuild_keys_fuzz_against_python_reference(spark):
    """Seeded-random CDC logs (duplicate per-key timestamps, same-state
    runs, late batches that interleave arbitrarily — including AT
    boundary timestamps) verified against a pure-Python replay of the
    documented rebuild algebra: inorder change points → boundary events
    (src 0, NULL event_id, state tiebreak) ∪ late events → change-flag
    + lead close; untouched keys pass through verbatim."""
    import random
    from datetime import datetime, timedelta

    from etl_python_sqlite_spark.operators.snapshot import (
        scd2_intervals,
        scd2_rebuild_keys,
    )

    t0 = datetime(2024, 1, 1)

    def ref_change_points(evs):
        """evs: [(state, ts, sortkey...)] pre-sorted → retained points."""
        out, prev = [], object()
        for e in evs:
            if e[0] != prev:
                out.append(e)
            prev = e[0]
        return out

    def ref_intervals(points):
        """[(state, ts, ...)] in order → (state, vf, vt, is_current)."""
        out = []
        for i, p in enumerate(points):
            vt = points[i + 1][1] if i + 1 < len(points) else None
            out.append((p[0], p[1], vt, vt is None))
        return out

    rng = random.Random(61)
    for trial in range(12):
        n = rng.randint(6, 24)
        rows = []
        for eid in range(1, n + 1):
            rows.append(
                (
                    eid,
                    rng.randint(1, 4),                      # user
                    t0 + timedelta(hours=rng.randint(0, 10)),  # dup-able ts
                    rng.choice("ABC"),                      # state
                )
            )
        late_ids = {eid for eid, *_ in rows if rng.random() < 0.35}
        inorder = [r for r in rows if r[0] not in late_ids]
        late = [r for r in rows if r[0] in late_ids]
        if not inorder or not late:
            continue

        schema = "event_id long, user_id long, ts timestamp, event_type string"
        hist = scd2_intervals(
            spark.createDataFrame(inorder, schema),
            key="user_id", state_col="event_type", ts_col="ts",
            order_cols=["event_id"],
        )
        got = sorted(
            (r["user_id"], r["event_type"], r["valid_from"], r["valid_to"],
             bool(r["is_current"]))
            for r in scd2_rebuild_keys(
                hist,
                spark.createDataFrame(late, schema).select(
                    "user_id", "event_type", "ts", "event_id"
                ),
                key="user_id", state_col="event_type", ts_col="ts",
                order_cols=["event_id"],
            ).collect()
        )

        # pure-Python reference
        want = []
        affected = {u for _, u, _, _ in late}
        by_user_inorder = {}
        for eid, u, ts, s in sorted(inorder, key=lambda r: (r[1], r[2], r[0])):
            by_user_inorder.setdefault(u, []).append((s, ts, eid))
        for u, evs in by_user_inorder.items():
            bounds = ref_change_points(evs)
            if u not in affected:
                want += [(u, s, vf, vt, cur)
                         for s, vf, vt, cur in ref_intervals(bounds)]
                continue
            # uni: boundaries (src 0, eid None -> sorts FIRST) + late
            uni = [(s, ts, 0, (0, 0), s) for s, ts, _ in bounds]
            uni += [
                (s, ts, 1, (1, eid), s)
                for eid, uu, ts, s in late
                if uu == u
            ]
            uni.sort(key=lambda e: (e[1], e[2], e[3], e[4]))
            pts = ref_change_points(uni)
            want += [(u, s, vf, vt, cur)
                     for s, vf, vt, cur in ref_intervals(pts)]
        # brand-new keys present only in the late batch
        for u in affected - set(by_user_inorder):
            uni = sorted(
                ((s, ts, 1, (1, eid), s) for eid, uu, ts, s in late if uu == u),
                key=lambda e: (e[1], e[2], e[3], e[4]),
            )
            want += [(u, s, vf, vt, cur)
                     for s, vf, vt, cur in ref_intervals(ref_change_points(uni))]
        assert got == sorted(want), f"trial {trial}"


def test_nb_quality_classifier_planted_precision(spark):
    """Planted two-class corpus: positive docs share telltale bigrams,
    junk docs share different ones. The closed-form NB trainer must
    classify every labeled AND held-out positive correctly (held-out
    positives train as negatives, but the labeled majority keeps their
    buckets' likelihood ratio > 1), and the degenerate docs follow the
    n_feat = 0 contract."""
    from etl_python_sqlite_spark.operators.curation import (
        nb_quality_classifier,
    )

    good = "excellent thoughtful prose with careful measured analysis"
    junk = "buy now click here spam spam free offer"
    rows = (
        [(i, good + f" variant {i}") for i in range(8)]          # labeled pos
        + [(100 + i, good + f" extra {i}") for i in range(4)]    # held-out pos
        + [(200 + i, junk + f" blast {i}") for i in range(8)]    # neg
        + [(300, ""), (301, None), (302, "single")]              # degenerate
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pos = df.filter(F.col("doc_id") < 100)
    got = {
        r["doc_id"]: (r["n_feat"], r["score_micro"], r["pred_pos"])
        for r in nb_quality_classifier(df, pos).collect()
    }
    assert len(got) == len(rows)
    for i in range(8):
        assert got[i][2] is True, (i, got[i])
    for i in range(4):
        assert got[100 + i][2] is True, (i, got[100 + i])  # held-out
    for i in range(8):
        assert got[200 + i][2] is False, (i, got[200 + i])
    for d in (300, 301, 302):
        assert got[d] == (0, 0, False), (d, got[d])


def test_nb_trainer_scores_match_weight_replay(spark):
    """The trainer's scores are its weight table applied to the bucketed
    features: a Python replay of both reproduces them exactly."""
    from etl_python_sqlite_spark.operators.curation import (
        bucketed_bigram_counts,
        nb_quality_classifier,
    )

    good = "excellent thoughtful prose with careful measured analysis"
    junk = "buy now click here spam spam free offer"
    rows = (
        [(i, good + f" v{i}", True) for i in range(6)]
        + [(100 + i, junk + f" b{i}", False) for i in range(6)]
        + [(200, "", None)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, is_pos boolean")
    docs = df.select("doc_id", "text")
    trained = {
        r["doc_id"]: (r["n_feat"], r["score_micro"], r["pred_pos"])
        for r in nb_quality_classifier(
            docs, df.filter("is_pos").select("doc_id")
        ).collect()
    }
    # rebuild the SAME weight table from the class counts in Python: the
    # trainer's clamped quantized likelihood ratio, exact integer math
    feats = bucketed_bigram_counts(docs)
    counts = (
        feats.join(df.select("doc_id", "is_pos"), "doc_id")
        .groupBy("bucket")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("is_pos"), F.col("cnt"))), F.lit(0)
            ).alias("cp"),
            F.coalesce(
                F.sum(F.when(~F.col("is_pos"), F.col("cnt"))), F.lit(0)
            ).alias("cn"),
        )
        .collect()
    )
    n_buckets = 1024
    n_p = sum(r["cp"] for r in counts)
    n_n = sum(r["cn"] for r in counts)
    weights = {
        r["bucket"]: min(
            max(
                10**6 * (r["cp"] + 1) * (n_n + n_buckets)
                // ((r["cn"] + 1) * (n_p + n_buckets)),
                1,
            ),
            10**12,
        )
        for r in counts
    }
    # score = Σ cnt·w over a doc's buckets; positive when it beats the
    # neutral weight 10^6 per feature; no features scores (0, 0, False)
    totals = {r[0]: [0, 0] for r in rows}
    for r in feats.collect():
        totals[r["doc_id"]][0] += r["cnt"]
        totals[r["doc_id"]][1] += r["cnt"] * weights[r["bucket"]]
    served = {d: (n, s, s > n * 10**6) for d, (n, s) in totals.items()}
    assert served == trained


# ---------------------------------------------------------------------------
# trigram LM (r10)
# ---------------------------------------------------------------------------

def _py_trigrams(text: str) -> list[tuple[str, str, str]]:
    w = text.strip().lower().split()
    return list(zip(w, w[1:], w[2:]))


def test_doc_trigrams_matches_python(spark, docs):
    from etl_python_sqlite_spark.operators.curation import doc_trigrams

    got = sorted(
        (r["doc_id"], r["w1"], r["w2"], r["w3"])
        for r in doc_trigrams(docs).collect()
    )
    want = sorted(
        (i, a, b, c) for i, t, _ in CORPUS for a, b, c in _py_trigrams(t)
    )
    assert got == want


def test_trigram_lm_score_exact(spark, docs):
    from collections import Counter

    from etl_python_sqlite_spark.operators.curation import trigram_lm_score

    c3 = Counter(tg for _, t, _ in CORPUS for tg in _py_trigrams(t))
    c12 = Counter()
    for (w1, w2, _), n in c3.items():
        c12[w1, w2] += n
    v = len({w3 for _, _, w3 in c3})
    rows = {r["doc_id"]: r for r in trigram_lm_score(docs).collect()}
    for i, t, _ in CORPUS:
        tgs = _py_trigrams(t)
        if not tgs:
            assert i not in rows  # <3 words yields no score row
            continue
        sum_p = sum(
            (1_000_000 * (c3[tg] + 1)) // (c12[tg[:2]] + v) for tg in tgs
        )
        assert rows[i]["n_trigrams"] == len(tgs)
        assert rows[i]["sum_p_micro"] == sum_p
        n = len(tgs)
        assert rows[i]["mean_p"] == ((2 * sum_p + n) // (2 * n)) / 1e6
    # doc 5 has exactly 2 words -> trigram-less even though bigram-scored
    assert 5 not in rows
    # the template trio (docs 1/2/4 share contexts) outscores the one-off
    assert rows[1]["mean_p"] > rows[3]["mean_p"]


def test_ngram_lm_score_order5(spark):
    """Generic-order LM scorer (r11): exact Laplace micro-units at n=5;
    <5-word docs yield no rows; a corpus-unique 5-gram in a two-doc
    corpus scores (1+1)/(1+V) with V = distinct fifth words."""
    from etl_python_sqlite_spark.operators.curation import (
        doc_ngrams,
        ngram_lm_score,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d e"),          # one 5-gram
            (2, "a b c d e f"),        # two 5-grams
            (3, "too short here"),     # no rows
        ],
        "doc_id long, text string",
    )
    grams = {
        tuple(r)
        for r in doc_ngrams(df, 5).select("w1", "w2", "w3", "w4", "w5").collect()
    }
    assert ("a", "b", "c", "d", "e") in grams
    assert ("b", "c", "d", "e", "f") in grams
    got = {r["doc_id"]: r for r in ngram_lm_score(df, n=5).collect()}
    assert set(got) == {1, 2}
    # V = distinct w5 = {e, f} = 2; c(abcde)=2 (docs 1+2), ctx c(abcd)=2
    # -> p = 10^6*(2+1) div (2+2) = 750000 for the abcde instance;
    # bcdef: c=1, ctx=1 -> 10^6*2 div (1+2) = 666666
    assert got[1]["n_ngrams"] == 1 and got[1]["sum_p_micro"] == 750000
    assert got[2]["n_ngrams"] == 2
    assert got[2]["sum_p_micro"] == 750000 + 666666


def test_ccnet_buckets_tie_dense_cross_engine(spark, tmp_path):
    """Regeneration guard for ext_ccnet_quality_buckets: on a corpus
    where MANY documents share identical 5-gram scores (one repeated
    template per language), bucket membership is decided entirely by
    the doc_id tie-break — both engines must cut identical terciles."""
    from pyspark.sql import Row

    import __spark_entry__ as SE
    from tests.conftest import compare_frames

    import duckdb

    tmpl_en = "a b c d e f g h"      # every en doc scores identically
    tmpl_fr = "p q r s t u"          # every fr doc, too
    rows = [
        Row(doc_id=i, text=tmpl_en, lang="en", source="web", n_chars=15)
        for i in range(11)           # 11 docs -> terciles 4/3/4... by rank
    ] + [
        Row(doc_id=100 + i, text=tmpl_fr, lang="fr", source="web", n_chars=11)
        for i in range(5)
    ] + [
        Row(doc_id=500, text="x y", lang="de", source="web", n_chars=3),
        # <5 words -> no 5-grams -> absent from the census on BOTH sides
    ]
    d = str(tmp_path)
    spark.createDataFrame(rows).coalesce(1).write.mode("overwrite").parquet(
        f"{d}/documents.parquet"
    )
    from etl_python_sqlite_spark.plans import ext as X

    X._FIVEGRAM.clear()
    sdf = SE.queries()["ext_ccnet_quality_buckets"](spark, d)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{d}/documents.parquet/*.parquet'"
    )
    compare_frames(
        sdf, con.execute(SE.oracle_sql()["ext_ccnet_quality_buckets"]),
        "ccnet_tie_dense",
    )
    got = {(r["lang"], r["bucket"]): r["n_docs"] for r in sdf.collect()}
    # rank buckets: ((rn-1)*3) div n -> en(11): 4/4/3, fr(5): 2/2/1
    assert got == {
        ("en", "head"): 4, ("en", "middle"): 4, ("en", "tail"): 3,
        ("fr", "head"): 2, ("fr", "middle"): 2, ("fr", "tail"): 1,
    }
    X._FIVEGRAM.clear()
