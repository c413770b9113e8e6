"""Stale-data guard for memoized frames (VERDICT r6 "What's wrong #1").

The shared-stage memos (`plans/relational._flag_cents_hist`,
`_cooccurrence_edges`) and the table-frame cache
(`sources/parquet.load_table`) key on a file-listing fingerprint
(names + sizes + mtimes). Rewriting the parquet under an unchanged path
— exactly what per-round testdata regeneration does — must rebuild the
frame, never serve a cached stage of the OLD data.
"""

from __future__ import annotations

import pytest

from pyspark.sql import Row

from etl_python_sqlite_spark.operators.cache import release_all


def _write_lineitem(spark, sf_dir: str, prices: list[float]) -> None:
    rows = [
        Row(
            l_orderkey=i // 2,
            l_partkey=i % 5,
            l_returnflag="A",
            l_extendedprice=p,
        )
        for i, p in enumerate(prices)
    ]
    (
        spark.createDataFrame(rows)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{sf_dir}/lineitem.parquet")
    )


def test_load_table_rebuilds_on_rewrite(spark, tmp_path):
    from etl_python_sqlite_spark.sources.parquet import load_table

    d = str(tmp_path)
    _write_lineitem(spark, d, [1.0, 2.0, 3.0])
    t1 = load_table(spark, d, "lineitem")
    assert t1.count() == 3
    # unchanged files -> same cached frame object (no re-plan)
    assert load_table(spark, d, "lineitem") is t1

    _write_lineitem(spark, d, [10.0, 20.0, 30.0, 40.0])
    t2 = load_table(spark, d, "lineitem")
    assert t2 is not t1
    assert t2.count() == 4


def test_flag_cents_hist_rebuilds_on_rewrite(spark, tmp_path):
    from etl_python_sqlite_spark.plans import relational as R

    release_all()
    d = str(tmp_path)
    _write_lineitem(spark, d, [1.00, 2.00, 2.00])
    h1 = R._flag_cents_hist(spark, d)
    got1 = {(r["l_returnflag"], r["c"]): r["cnt"] for r in h1.collect()}
    assert got1 == {("A", 100): 1, ("A", 200): 2}
    assert R._flag_cents_hist(spark, d) is h1  # stable data -> memo hit

    # rewrite the dataset mid-session: the memo must serve a REBUILT,
    # correct histogram (the old key ages out of the LRU)
    _write_lineitem(spark, d, [5.00, 5.00, 7.50, 7.50])
    h2 = R._flag_cents_hist(spark, d)
    assert h2 is not h1
    got2 = {(r["l_returnflag"], r["c"]): r["cnt"] for r in h2.collect()}
    assert got2 == {("A", 500): 2, ("A", 750): 2}
    release_all()


def test_cooccurrence_edges_rebuild_on_rewrite(spark, tmp_path):
    from etl_python_sqlite_spark.plans import relational as R

    release_all()
    d = str(tmp_path)
    _write_lineitem(spark, d, [1.0] * 4)  # orders {0,1} x parts {0..3}
    e1 = R._cooccurrence_edges(spark, d)
    n1 = e1.count()
    assert n1 == 2  # (0,1) from order 0, (2,3) from order 1
    _write_lineitem(spark, d, [1.0] * 6)  # 3 orders x 2 parts each
    e2 = R._cooccurrence_edges(spark, d)
    assert e2 is not e1
    assert e2.count() == 3
    release_all()


def _write_documents(spark, sf_dir: str, texts: list[str]) -> None:
    rows = [
        Row(doc_id=i, text=t, lang="en", source="web")
        for i, t in enumerate(texts)
    ]
    (
        spark.createDataFrame(rows)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{sf_dir}/documents.parquet")
    )


@pytest.mark.slow  # >8 s e2e/fuzz (default tier deselects)
def test_minhash_stage_rebuilds_on_rewrite(spark, tmp_path):
    """The r8 shared minhash-pairs stage must never serve pairs mined
    from rewritten-away data (the same wrong-answer class as the cents
    histogram memo)."""
    from etl_python_sqlite_spark.plans import ext as X

    X._MINHASH.clear()
    d = str(tmp_path)
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    _write_documents(spark, d, [dup, dup, "totally different words here now"])
    p1 = X._minhash_pairs(spark, d)
    assert {(r["id_a"], r["id_b"]) for r in p1.collect()} == {(0, 1)}
    assert X._minhash_pairs(spark, d) is p1  # stable data -> memo hit

    _write_documents(
        spark,
        d,
        ["one two three four five six", "seven eight nine ten eleven zzz"],
    )
    p2 = X._minhash_pairs(spark, d)
    assert p2 is not p1
    assert p2.count() == 0
    X._MINHASH.clear()


def test_kmeans_stage_rebuilds_on_rewrite(spark, tmp_path):
    """The r8 shared Lloyd stage: rewritten embeddings must rebuild the
    checkpointed assignment and the centroid checksums."""
    from pyspark.sql import functions as F  # noqa: F401

    from etl_python_sqlite_spark.plans import ext as X

    X._KMEANS.clear()
    d = str(tmp_path)

    def write(vals):
        rows = [
            (i, [float(v), float(-v), float(v / 2), float(1 - v)])
            for i, v in enumerate(vals)
        ]
        (
            spark.createDataFrame(rows, "vec_id long, embedding array<float>")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{d}/embeddings.parquet")
        )

    write([i / 40 for i in range(20)])
    a1, l1 = X._kmeans_stage(spark, d)
    n1 = a1.count()
    assert n1 == 20
    assert X._kmeans_stage(spark, d)[0] is a1  # memo hit

    write([i / 80 for i in range(30)])
    a2, l2 = X._kmeans_stage(spark, d)
    assert a2 is not a1
    assert a2.count() == 30
    assert l2 != l1  # different data -> different centroid checksums
    X._KMEANS.clear()


def _write_documents(spark, sf_dir: str, texts: list[str]) -> None:
    rows = [
        Row(doc_id=i, text=t, lang="en", source=f"src{i % 2}")
        for i, t in enumerate(texts)
    ]
    (
        spark.createDataFrame(rows)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{sf_dir}/documents.parquet")
    )


def test_word_histogram_stage_rebuilds_on_rewrite(spark, tmp_path):
    from etl_python_sqlite_spark.plans import ext as X

    X._WORDHIST.clear()
    d = str(tmp_path)
    _write_documents(spark, d, ["alpha beta", "alpha"])
    h1 = X._word_histogram_stage(spark, d, max_vocab=16)
    assert dict(h1) == {"alpha": 2, "beta": 1}
    assert X._word_histogram_stage(spark, d, max_vocab=16) is h1

    _write_documents(spark, d, ["gamma gamma gamma"])
    h2 = X._word_histogram_stage(spark, d, max_vocab=16)
    assert h2 is not h1
    assert dict(h2) == {"gamma": 3}
    X._WORDHIST.clear()


def test_bigram_bucket_stage_rebuilds_on_rewrite(spark, tmp_path):
    from etl_python_sqlite_spark.plans import ext as X

    X._BIGRAM.clear()
    d = str(tmp_path)
    _write_documents(spark, d, ["a b c", "a b"])
    s1 = X._bigram_bucket_stage(spark, d)
    # 3 bigram occurrences total: (a,b) x2, (b,c) x1
    assert s1.agg({"cnt": "sum"}).first()[0] == 3
    assert X._bigram_bucket_stage(spark, d) is s1  # memo hit

    _write_documents(spark, d, ["x y z w"])
    s2 = X._bigram_bucket_stage(spark, d)
    assert s2 is not s1
    assert s2.agg({"cnt": "sum"}).first()[0] == 3  # (x,y)(y,z)(z,w)
    assert s2.select("doc_id").distinct().count() == 1
    X._BIGRAM.clear()


def test_image_pairs_stage_rebuilds_on_rewrite(spark, tmp_path):
    """The r10 shared image-pairs stage keys on the documents
    fingerprint like the minhash stage: rewriting the corpus must
    rebuild the pair frame (twin counts follow the new doc_ids)."""
    from etl_python_sqlite_spark.plans import ext as X

    X._IMGPAIRS.clear()
    d = str(tmp_path)
    # doc_ids 0..2: twin planted only for doc_id 0 (0 % 7 == 0)
    _write_documents(spark, d, ["a", "b", "c"])
    p1 = X._image_pairs(spark, d)
    got1 = {(r["id_a"], r["id_b"]) for r in p1.collect()}
    assert got1 == {(0, 1_000_000_000)}
    assert X._image_pairs(spark, d) is p1  # stable data -> memo hit

    _write_documents(spark, d, ["a", "b", "c", "d", "e", "f", "g", "h"])
    p2 = X._image_pairs(spark, d)
    assert p2 is not p1
    # doc_ids 0..7: twins for 0 and 7 (noisy, hamming <= 4)
    got2 = {(r["id_a"], r["id_b"]) for r in p2.collect()}
    assert got2 == {(0, 1_000_000_000), (7, 1_000_000_007)}
    X._IMGPAIRS.clear()


def test_fivegram_score_stage_rebuilds_on_rewrite(spark, tmp_path):
    """The r11 shared 5-gram score stage (fivegram_lm_score + ccnet
    buckets) keys on the documents fingerprint: rewriting the corpus
    must rebuild the per-doc score frame."""
    from etl_python_sqlite_spark.plans import ext as X

    X._FIVEGRAM.clear()
    d = str(tmp_path)
    _write_documents(spark, d, ["a b c d e f g", "h i j k l"])
    s1 = X._fivegram_score_stage(spark, d)
    # doc0: 3 five-grams, doc1: 1
    got = {r["doc_id"]: r["n_ngrams"] for r in s1.collect()}
    assert got == {0: 3, 1: 1}
    assert X._fivegram_score_stage(spark, d) is s1  # memo hit

    _write_documents(spark, d, ["p q r s t u"])
    s2 = X._fivegram_score_stage(spark, d)
    assert s2 is not s1
    assert {r["doc_id"]: r["n_ngrams"] for r in s2.collect()} == {0: 2}
    X._FIVEGRAM.clear()


def test_ngram_stage_rebuilds_on_rewrite_and_matches_selfbuilt(spark, tmp_path):
    """The r12 shared word-array / n-gram instance stages must (a) never
    serve instances of rewritten-away documents and (b) make the scorers
    produce EXACTLY the self-built (grams=None) operator output."""
    from etl_python_sqlite_spark.operators.curation import (
        bigram_lm_score,
        trigram_lm_score,
    )
    from etl_python_sqlite_spark.plans import ext as X

    release_all()
    d = str(tmp_path)
    _write_documents(
        spark, d,
        ["the quick brown fox jumps over the lazy dog",
         "the quick brown fox naps under the warm sun",
         "entirely different tokens in this one"],
    )
    docs = X._docs(spark, d)
    g2 = X._ngram_instances_stage(spark, d, 2)
    assert X._ngram_instances_stage(spark, d, 2) is g2  # stable -> hit
    for fn, n in ((bigram_lm_score, 2), (trigram_lm_score, 3)):
        shared = fn(docs, grams=X._ngram_instances_stage(spark, d, n))
        self_built = fn(docs)
        assert sorted(map(tuple, shared.collect())) == sorted(
            map(tuple, self_built.collect())
        )

    _write_documents(spark, d, ["aa bb cc", "aa bb cc", "dd ee ff"])
    g2b = X._ngram_instances_stage(spark, d, 2)
    assert g2b is not g2  # rewrite -> rebuild
    assert g2b.count() == 6  # 3 docs x 2 adjacent pairs
    release_all()


def test_simhash_stage_rebuilds_on_rewrite_and_matches_selfbuilt(
    spark, tmp_path
):
    """The r12 shared simhash fingerprint stage must (a) never serve
    fingerprints of rewritten-away documents and (b) make the near-dup
    operator's ``sh=`` path produce EXACTLY the self-built output."""
    from etl_python_sqlite_spark.operators.dedup import (
        simhash_near_dups_portable,
        simhash_portable,
    )
    from etl_python_sqlite_spark.plans import ext as X

    X._SIMHASH_STAGE.clear()
    d = str(tmp_path)
    _write_documents(
        spark, d,
        ["the quick brown fox jumps over the lazy dog",
         "the quick brown fox jumps over the lazy cat",
         "entirely different tokens in this one"],
    )
    docs = X._docs(spark, d)
    s1 = X._simhash_stage(spark, d)
    assert X._simhash_stage(spark, d) is s1  # stable -> hit
    # stage rows ≡ the operator's own fingerprints
    assert sorted(map(tuple, s1.collect())) == sorted(
        map(tuple, simhash_portable(docs).collect())
    )
    shared = simhash_near_dups_portable(docs, max_hamming=60, sh=s1)
    self_built = simhash_near_dups_portable(docs, max_hamming=60)
    assert sorted(map(tuple, shared.collect())) == sorted(
        map(tuple, self_built.collect())
    )

    _write_documents(spark, d, ["aa bb", "aa bb", "cc dd"])
    s2 = X._simhash_stage(spark, d)
    assert s2 is not s1  # rewrite -> rebuild
    assert s2.count() == 3
    X._SIMHASH_STAGE.clear()


def test_raw_words_stage_rebuilds_on_rewrite_and_matches_selfbuilt(
    spark, tmp_path
):
    """The r12 shared RAW word-array stage must (a) never serve arrays
    of rewritten-away documents and (b) make the winnowing/simhash
    ``words_arr=`` paths produce EXACTLY the self-built output —
    including the un-lowercased tokens the LM words stage would fold."""
    from etl_python_sqlite_spark.operators.dedup import (
        simhash_portable,
        winnowing_overlap_pairs_portable,
    )
    from etl_python_sqlite_spark.plans import ext as X

    X._RAW_WORDS.clear()
    d = str(tmp_path)
    _write_documents(
        spark, d,
        ["The Quick Brown fox jumps over The lazy dog again and again",
         "The Quick Brown fox jumps over The lazy cat again and again",
         "entirely different tokens in this one"],
    )
    docs = X._docs(spark, d)
    w1 = X._raw_words_stage(spark, d)
    assert X._raw_words_stage(spark, d) is w1  # stable -> hit
    # raw case preserved (the lowercased stage would fold 'The')
    toks = {t for r in w1.collect() for t in r["ws"]}
    assert "The" in toks and "the" not in toks
    shared_sh = simhash_portable(docs, words_arr=w1)
    assert sorted(map(tuple, shared_sh.collect())) == sorted(
        map(tuple, simhash_portable(docs).collect())
    )
    shared_wp = winnowing_overlap_pairs_portable(
        docs, min_shared=1, words_arr=w1
    )
    self_wp = winnowing_overlap_pairs_portable(docs, min_shared=1)
    assert sorted(map(tuple, shared_wp.collect())) == sorted(
        map(tuple, self_wp.collect())
    )
    # r12: the shingle window rides the stage too (contamination scan)
    from etl_python_sqlite_spark.operators.dedup import exploded_shingles

    shared_es = exploded_shingles(docs, k=5, words_arr=w1)
    self_es = exploded_shingles(docs, k=5)
    assert sorted(map(tuple, shared_es.collect())) == sorted(
        map(tuple, self_es.collect())
    )

    _write_documents(spark, d, ["aa bb", "cc dd"])
    w2 = X._raw_words_stage(spark, d)
    assert w2 is not w1  # rewrite -> rebuild
    assert w2.count() == 2
    X._RAW_WORDS.clear()


def test_ann_query_stage_rebuilds_on_rewrite_and_matches_selfbuilt(
    spark, tmp_path
):
    """The r12 shared ANN query/ground-truth stage must (a) re-collect
    the vec_id=0 query vector and the exact top-k after a rewrite and
    (b) equal the self-built cosine_topk output exactly."""
    from etl_python_sqlite_spark.operators.similarity import cosine_topk
    from etl_python_sqlite_spark.plans import ext as X

    X._ANN_QUERY.clear()
    d = str(tmp_path)

    def write(shift):
        rows = [
            (i, [float(i + shift), float(1 - i), 0.5, float(shift)])
            for i in range(25)
        ]
        (
            spark.createDataFrame(rows, "vec_id long, embedding array<float>")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(f"{d}/embeddings.parquet")
        )

    write(0.0)
    q1, e1 = X._ann_query_stage(spark, d)
    assert X._ann_query_stage(spark, d)[1] is e1  # stable -> hit
    corpus = X._embs(spark, d).filter("vec_id != 0")
    want = cosine_topk(corpus, q1, k=20).collect()
    assert sorted(map(tuple, e1.collect())) == sorted(map(tuple, want))

    write(2.0)
    q2, e2 = X._ann_query_stage(spark, d)
    assert e2 is not e1  # rewrite -> rebuild
    assert q2 != q1  # the query vector itself moved with the data
    X._ANN_QUERY.clear()
