"""EXT query surface: dedup / similarity / text analysis over the
``documents`` and ``embeddings`` testdata tables (SURVEY §2.7).

Wrappers bind the generic operators in ``operators/dedup.py``,
``operators/similarity.py`` and ``functions/text.py`` to concrete
(spark, sf_dir) query callables for the driver contract. Where DuckDB can
express the same computation, ``__spark_entry__.oracle_sql`` carries the
twin. The MinHash/SimHash/winnowing contract queries run on the portable
md5-derived hash (functions/portable.py) so their DuckDB twins replay
every hash bit-for-bit; sign-LSH/IVF ANN queries — whose bucketing has no
SQL twin — are checked through one-row recall/containment INVARIANTS
whose non-boolean columns the oracle computes exactly (plus pytest
ground-truth recall tests on the operators they call).
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_python_sqlite_spark.functions import text as X
from etl_python_sqlite_spark.operators import dedup as D
from etl_python_sqlite_spark.operators import similarity as S
from etl_python_sqlite_spark.operators.cache import (
    StageMemo,
    release,
    stage_key,
    tie,
    unpersist_entry,
)
from etl_python_sqlite_spark.sources.parquet import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _scan_underparallel(spark: SparkSession, sf_dir: str,
                        name: str = "documents") -> bool:
    """True when ``name``'s parquet row-group count cannot keep the
    cores busy (§2.6): a row group is the unit of scan parallelism, so
    below this bound every per-row expression in the scan stage
    serializes onto one task. Footer-metadata only — zero Spark jobs.
    At warehouse scale inputs arrive as many row groups and this stays
    False, keeping the scan-stage (exchange-free) plan shapes."""
    from etl_python_sqlite_spark.sources.parquet import (
        table_num_row_groups_from_metadata,
    )

    return (
        table_num_row_groups_from_metadata(sf_dir, name)
        < spark.sparkContext.defaultParallelism
    )


def _docs_spread(spark: SparkSession, sf_dir: str, cols: tuple,
                 key: str | None = "doc_id") -> DataFrame:
    """documents projected to ``cols`` and — ONLY under the
    ``_scan_underparallel`` gate — repartitioned to defaultParallelism
    (hash on ``key``, round-robin when key=None) so heavy per-row JVM
    text expressions (regex trees, tokenize+sort+md5) run on every core
    instead of the single scan task a one-row-group file permits. The
    exchange carries the text payload once, from the scan task —
    measured wins at sf0.1: quality_scores 2.3×, langid 1.9×,
    text_stats 1.6× (interleaved A/B ×2, collect-identical). Gate
    closed at warehouse row-group counts, so no extra exchange exists
    at scale. The Python-bound Arrow pipelines (media encode/decode)
    take the round-robin form: measured r10, video near-dups
    6.0 → 1.4 s, audio 1.7 → 1.1 s. Do NOT reach for this on explode
    pipelines, where per-row work is cheap and the exchange dominates
    (the trigram A/B measured it LOSING there, BASELINE.md r10)."""
    d = _docs(spark, sf_dir).select(*cols)
    if _scan_underparallel(spark, sf_dir, "documents"):
        par = spark.sparkContext.defaultParallelism
        d = d.repartition(par, key) if key else d.repartition(par)
    return d


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def _emb_meta(spark: SparkSession, sf_dir: str) -> tuple[int, int | None]:
    """(n_rows, dim) of the embeddings table from parquet FOOTER
    metadata — zero Spark jobs (r12-opt: the ANN/near-dup operators'
    count+first(size(v)) probe was a distributed aggregate action per
    invocation; for a plain table scan the footer count is exact and
    the first row's dim is the same row the probe read)."""
    from etl_python_sqlite_spark.sources.parquet import (
        array_dim_from_metadata,
        table_row_count_from_metadata,
    )

    return (
        table_row_count_from_metadata(sf_dir, "embeddings"),
        array_dim_from_metadata(sf_dir, "embeddings", "embedding"),
    )




# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------

def ext_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 — exact content dedup groups (sha256 key)."""
    return D.exact_dedup_groups(_docs(spark, sf_dir))


def ext_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1b — whitespace-insensitive dedup; oracle groups by the normalized
    text itself (the fingerprint is engine-internal)."""
    docs = _docs(spark, sf_dir)
    norm = F.concat_ws(" ", X.words(F.col("text")))
    return (
        docs.groupBy(norm.alias("_norm"))
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies"))
        .select("keeper_id", "n_copies")
    )


#: (applicationId, sf_dir, fingerprint) → the checkpointed sample
#: exact-Jaccard score frame shared by ext_ngram_jaccard_pairs and
#: ext_dedup_clusters (r12, guide §2.4): both ran the same
#: shingle→inverted-index→verify pipeline over nested doc samples.
#: One stage over doc_id < 500 at the LOOSER threshold (0.05) is exact
#: for both consumers: candidate pairs share ≥1 shingle, shingle
#: sharing between two docs is independent of the rest of the sample,
#: and the df stop-shingle cap (10k) cannot fire under 500 docs — so
#: the <150 query is precisely the stage filtered to id_b < 150, and
#: the clusters query is the stage filtered to jaccard ≥ 0.25 (the
#: identical double compare the operator would have run).
_SAMPLE_JACC = StageMemo()


def _sample_jaccard_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the two consumers run as concurrent bench actions; the stamped
    # count is an upper bound on the CC edges (the clusters query's
    # ≥ 0.25 filter only shrinks it)
    return _pair_stage(
        _SAMPLE_JACC, spark, sf_dir,
        lambda: D.ngram_jaccard_pairs(
            _docs(spark, sf_dir).filter(F.col("doc_id") < 500),
            threshold=0.05, k=3,
        ),
        "jaccard",
    )


def ext_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2-exact — 3-gram Jaccard pairs over a bounded sample (ground truth
    for the LSH path; quadratic by design). Rides the shared sample
    score stage (``_sample_jaccard_stage``): id_a < id_b < 150 restricts
    the 500-doc stage to exactly this query's pair set."""
    pairs = _sample_jaccard_stage(spark, sf_dir)
    out = pairs.filter(F.col("id_b") < 150).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )
    return tie(out, keepalive=[pairs])


#: (applicationId, sf_dir, fingerprint) → the tie()'d verified-pairs
#: frame shared by ext_minhash_near_dups and ext_minhash_dedup_clusters
#: (r8): both queries ran the IDENTICAL signature → band → candidate →
#: verify pipeline (~4-5 s each at sf0.1, concurrently in the bench) —
#: one memoized stage feeds both.
_MINHASH = StageMemo()


def _pair_stage(
    memo: StageMemo,
    spark: SparkSession,
    sf_dir: str,
    lazy_pairs: Callable[[], DataFrame],
    score: str,
) -> DataFrame:
    """The one storage tier of a shared pair stage (r12): an eager
    ``localCheckpoint`` of the verified pairs ``lazy_pairs()`` builds,
    memoized in ``memo`` per documents fingerprint. Consumers scan one
    materialized RDD instead of re-running the verify joins per action;
    the operator's own intermediates (candidate checkpoints, decode
    persists) are released at once, since the pair checkpoint
    supersedes them."""

    def build() -> DataFrame:
        lazy = lazy_pairs()
        ckpt = lazy.localCheckpoint(eager=True)
        release(lazy)
        return tie(ckpt.select("id_a", "id_b", score), ckpt)

    return memo.get_or_build(stage_key(spark, sf_dir, "documents"), build)


def _cluster_summary(
    node_ids: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """pairs → connected components → per-cluster summary, the shared
    shape of every ``*_dedup_clusters`` query (r12 refactor). The
    union-find runs inside the query's own action over the memo's
    materialized pair stage."""
    from etl_python_sqlite_spark.operators.graph import dedup_cluster_assignment

    assign = dedup_cluster_assignment(
        node_ids, pairs.select("id_a", "id_b"), id_col=id_col
    )
    out = (
        assign.filter(F.col("cluster_size") > 1)
        .groupBy("cluster_id", "cluster_size")
        .agg(F.count("*").alias("n_members"))
        .orderBy("cluster_id")
    )
    return tie(out, keepalive=[assign, pairs])


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pair_stage(
        _MINHASH, spark, sf_dir,
        lambda: D.minhash_near_dups_portable(
            _docs(spark, sf_dir), threshold_micro=300_000
        ),
        "jaccard_micro",
    )


def ext_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 — MinHash+LSH near-dup pipeline on the portable 60-bit hash
    (functions/portable.py): the DuckDB oracle rebuilds the identical
    64-hash signatures, 16-band keys, candidate pairs and exact-Jaccard
    verification, so the FULL pipeline is value-hash-checked by the
    driver (was rows-only under xxhash64). jaccard_micro is the exact
    Jaccard floor-quantized to micro-units (integer on both engines).
    pytest carries the operator's ground-truth recall comparison
    (``operators.dedup.minhash_near_dups_portable``). The pair
    pipeline is the memoized stage shared with
    ext_minhash_dedup_clusters (see ``_minhash_pairs``)."""
    return _minhash_pairs(spark, sf_dir)


def ext_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2b — SimHash fingerprints on the portable 60-bit hash; DuckDB
    recomputes every fingerprint bit-for-bit (was rows-only under
    xxhash64).
    Reads the session-shared fingerprint stage (``_simhash_stage``) —
    the identical frame ext_simhash_near_dups blocks on."""
    return _simhash_stage(spark, sf_dir).orderBy("doc_id")


# ---------------------------------------------------------------------------
# similarity family
# ---------------------------------------------------------------------------

def ext_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — brute-force cosine top-20 for the vec_id=0 query vector.
    Reads the session-shared query/ground-truth stage the three ANN
    audit queries block on (r12-opt §2.4); the re-applied orderBy is
    the operator's own (rounded sim desc, id) contract over the same
    20 rows."""
    _, exact = _ann_query_stage(spark, sf_dir)
    return exact.orderBy(F.desc("cos_sim"), F.asc("vec_id"))


def ext_cosine_pairs_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3-exact — pairwise cosine ≥ 0.5 among vec_id < 100 (oracle ground
    truth for near-dup detection)."""
    return S.cosine_pairs_sample(
        _embs(spark, sf_dir), max_id=100, threshold=0.5
    )


def ext_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3-scale — sign-LSH multi-probe ANN top-20, driver-checked through
    recall + quality INVARIANTS (VERDICT r2 next-item 7): the LSH
    candidate set is hash-derived (no SQL twin), but the one-row audit's
    non-boolean columns (corpus size, exact best neighbor + cosine) are
    SQL-exact, and the booleans pin two facts Spark verifies against its
    own brute-force ground truth:

    * ``recall_ok`` — a SELF-CALIBRATING floor (VERDICT r4 #5): the
      recovered count must beat ``max(2, ceil(2k²/n))``, where k²/n is
      the null model's expected overlap of a random size-k set with the
      exact top-k. Derived from n IN-QUERY (pure integer cross-multiply,
      no division), so per-round testdata regeneration re-derives the
      threshold with the data: a shrunken corpus raises the floor
      (random overlap is likelier), a grown one lowers it toward the
      catastrophic-failure detector (bucketing broken → overlap ≈
      random ≈ k²/n ≪ floor). Measured recovery 5-8/20 at all three
      SFs vs floor 2 → ≥2.5× regeneration margin.
    * ``quality_ok`` — the returned set's summed cosine (floor-quantized
      to micros) is ≥ half the exact top-20's sum: the standard ANN
      quality-ratio check, which random non-neighbor output would fail.
    """
    embs = _embs(spark, sf_dir)
    # r12-opt: shared query-vector collect + exact ground truth (§2.4)
    q, exact = _ann_query_stage(spark, sf_dir)
    corpus = embs.filter(F.col("vec_id") != 0)
    approx = S.ann_topk_lsh(corpus, q, k=20, planes=6)
    best = exact.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(1).select(
        F.col("vec_id").alias("best_vec_id"), F.col("cos_sim").alias("best_cos_sim")
    )
    recovered = approx.select("vec_id").join(exact.select("vec_id"), "vec_id")
    qsum_approx = approx.agg(
        F.sum(F.floor(F.col("cos_sim") * 1000000)).cast("long").alias("qa")
    )
    qsum_exact = exact.agg(
        F.sum(F.floor(F.col("cos_sim") * 1000000)).cast("long").alias("qe")
    )
    return (
        corpus.agg(F.count("*").alias("n_vectors"))
        .crossJoin(recovered.agg(F.count("*").cast("long").alias("_nr")))
        .crossJoin(qsum_approx)
        .crossJoin(qsum_exact)
        .crossJoin(best)
        .select(
            "n_vectors",
            # recovered ≥ max(2, ceil(2·k²/n)) — see docstring; the
            # cross-multiplied form is exact-integer on both engines
            (
                (F.col("_nr") >= 2)
                & (F.col("_nr") * F.col("n_vectors") >= 2 * 20 * 20)
            ).alias("recall_ok"),
            (F.col("qa") * 2 >= F.col("qe")).alias("quality_ok"),
            "best_vec_id",
            "best_cos_sim",
        )
    )


# ---------------------------------------------------------------------------
# text-analysis family
# ---------------------------------------------------------------------------

def ext_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — per-document stats: words, chars, tokens, avg word length,
    punctuation ratio."""
    # r12-opt session 4: _docs_spread parallelizes the per-row text
    # expressions when the scan is row-group-bound (§2.6)
    docs = _docs_spread(spark, sf_dir, ("doc_id", "text"))
    # integer outputs cast to long: DuckDB's len()/length() are BIGINT and
    # a type-strict schema compare must not trip on int32-vs-int64
    return docs.select(
        "doc_id",
        X.n_words(F.col("text")).cast("long").alias("n_words"),
        F.length("text").cast("long").alias("n_chars_actual"),
        F.size(X.regex_tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.round(X.avg_word_len(F.col("text")), 6).alias("avg_word_len"),
        F.round(X.punct_ratio(F.col("text")), 6).alias("punct_ratio"),
    )


def ext_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4b — stopword-scoring language ID + agreement with the labeled
    ``lang`` column, aggregated per detected language."""
    docs = _docs_spread(spark, sf_dir, ("doc_id", "lang", "text"))  # §2.6
    return (
        docs.select("doc_id", "lang", X.langid(F.col("text")).alias("lang_detected"))
        .groupBy("lang_detected")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("lang") == F.col("lang_detected"), 1).otherwise(0)
            ).alias("n_label_agree"),
        )
    )


def ext_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4c — composite quality score per doc + decile bucketing."""
    docs = _docs_spread(spark, sf_dir, ("doc_id", "text"))  # §2.6
    scored = docs.select(
        "doc_id", F.round(X.quality_score(F.col("text")), 6).alias("quality")
    )
    return scored


def ext_token_count_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4d — corpus token accounting per source (the 'how many tokens do
    we have' query every training pipeline runs)."""
    # NOT _docs_spread (r12-s4 negative A/B: 0.31 -> 0.39 s — the
    # tokenize here is too cheap to pay the text exchange)
    docs = _docs(spark, sf_dir)
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(X.regex_tokens(F.col("text")))).alias("total_tokens"),
            F.sum(X.n_words(F.col("text"))).alias("total_words"),
            F.sum(F.length("text")).alias("total_chars"),
        )
    )


def ext_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2c — rolling-hash winnowing fingerprint overlap pairs on the
    portable hash; the DuckDB twin replays the windowed-min fingerprint
    selection exactly (was rows-only under xxhash64; pytest checks the
    operator's fingerprints against a CPython replay)."""
    # NOT on the shared raw-words stage (r12 negative result, 10×
    # probe): the cached upstream's accurate size stats flip the
    # fingerprint self-join from the streaming BroadcastHashJoin to a
    # sort-merge join that must sort the Σf² candidate rows a template
    # corpus generates (949M rows at 10×: 19 s → 124-180 s). See the
    # fp-persist comment in winnowing_overlap_pairs_portable.
    return D.winnowing_overlap_pairs_portable(_docs(spark, sf_dir), min_shared=3)


def ext_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2b-pairs — SimHash Hamming-distance near-dups via pigeonhole
    block joins on the portable 60-bit fingerprint (4×15-bit blocks,
    deterministic → full value-hash oracle; recall guaranteed ≤3,
    best-effort 4-6, identically on both engines). The fingerprint
    pass rides the session-shared ``_simhash_stage`` (the memo owns
    its lifecycle; the operator's self-contained path stays for
    non-plans callers)."""
    return D.simhash_near_dups_portable(
        _docs(spark, sf_dir), max_hamming=6,
        sh=_simhash_stage(spark, sf_dir),
    )


def ext_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3-scale-b — IVF ANN top-20, driver-checked through the same
    recall+quality invariant shape as ``ext_ann_topk_lsh``. IVF@(16
    centroids, 6 probes) recovers 8-12/20 at every SF on the
    near-isotropic synthetic embeddings (measured); the self-calibrating
    floor max(2, ceil(4·k²/n)) (null-model overlap derived from n
    in-query — VERDICT r4 #5) and the half-quality ratio leave ≥2×
    margin under per-round data regeneration at any corpus size."""
    embs = _embs(spark, sf_dir)
    # r12-opt: shared query-vector collect + exact ground truth (§2.4)
    q, exact = _ann_query_stage(spark, sf_dir)
    corpus = embs.filter(F.col("vec_id") != 0)
    approx = S.ivf_topk(corpus, q, k=20, n_centroids=16, n_probe=6)
    best = exact.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(1).select(
        F.col("vec_id").alias("best_vec_id"), F.col("cos_sim").alias("best_cos_sim")
    )
    recovered = approx.select("vec_id").join(exact.select("vec_id"), "vec_id")
    qsum_approx = approx.agg(
        F.sum(F.floor(F.col("cos_sim") * 1000000)).cast("long").alias("qa")
    )
    qsum_exact = exact.agg(
        F.sum(F.floor(F.col("cos_sim") * 1000000)).cast("long").alias("qe")
    )
    return (
        corpus.agg(F.count("*").alias("n_vectors"))
        .crossJoin(recovered.agg(F.count("*").cast("long").alias("_nr")))
        .crossJoin(qsum_approx)
        .crossJoin(qsum_exact)
        .crossJoin(best)
        .select(
            "n_vectors",
            # recovered ≥ max(2, ceil(4·k²/n)), derived from n in-query
            (
                (F.col("_nr") >= 2)
                & (F.col("_nr") * F.col("n_vectors") >= 4 * 20 * 20)
            ).alias("recall_ok"),
            (F.col("qa") * 2 >= F.col("qe")).alias("quality_ok"),
            "best_vec_id",
            "best_cos_sim",
        )
    )


def ext_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 — embedding-cosine near-duplicate pairs via multi-table sign-LSH
    + exact verification, driver-checked through a CONTAINMENT invariant
    (VERDICT r2 next-item 7): precision is 1.0 by construction (every
    emitted pair is exact-verified ≥ θ), so the check that carries
    information is recall — the exact pair set on a bounded sample
    (vec_id < 200, SQL-expressible like ext_cosine_pairs_sample) must be
    almost-contained in the LSH result. Output: one row with the
    SQL-exact sample pair count and a boolean pinning the misses to
    ≤ max(1, 20% of exact) — wide margin under the measured ≥0.95 recall
    SLO (tests/test_similarity.py::test_embedding_near_dup_recall)."""
    embs = _embs(spark, sf_dir)
    # r12-opt: n/dim from parquet footer metadata — the distributed
    # count+first probe was one whole driver action per invocation
    n_emb, dim_emb = _emb_meta(spark, sf_dir)
    approx = S.embedding_near_dup_pairs(
        embs, threshold=0.9, n_rows=n_emb, dim=dim_emb
    ).select("id_a", "id_b")
    exact = S.cosine_pairs_sample(embs, max_id=200, threshold=0.9).select(
        "id_a", "id_b"
    )
    missed = exact.join(approx, ["id_a", "id_b"], "left_anti")
    return (
        exact.agg(F.count("*").alias("n_exact_pairs_sample"))
        .crossJoin(missed.agg(F.count("*").alias("n_missed")))
        .select(
            "n_exact_pairs_sample",
            # n_missed ≤ max(1, n_exact/5), in integer arithmetic
            (
                F.col("n_missed") * 5
                <= F.greatest(F.lit(5), F.col("n_exact_pairs_sample"))
            ).alias("recall_ok"),
        )
    )


def ext_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-S2 — mergeable KLL quantile rollup (per event_type over
    ``events.value``), driver-checked like the HLL rollup: the sketch
    estimate is engine-internal, but KLL's DISTRIBUTION-FREE rank
    guarantee (±1.65% normalized rank at 99% confidence for k=200) makes
    "the sketch's p-quantile lies between the exact (p−5%)- and
    (p+5%)-quantiles" effectively deterministic (±5% ≈ 3× the 99%-conf
    bound), and the exact interpolated percentiles ARE SQL-portable
    (percentiles_by_group pins Spark percentile ≡ DuckDB quantile_cont).
    Output: (event_type, p25/p50/p75 exact, kll_within_rank_tol)."""
    from etl_python_sqlite_spark.operators.sketch import kll_quantiles_by
    from etl_python_sqlite_spark.sources.parquet import load_table

    ev = load_table(spark, sf_dir, "events")
    kll = kll_quantiles_by(ev, ["event_type"], "value", [0.25, 0.5, 0.75])
    probes = [0.20, 0.25, 0.30, 0.45, 0.50, 0.55, 0.70, 0.75, 0.80]
    pct = F.percentile(F.col("value"), F.array(*[F.lit(p) for p in probes]))
    exact = ev.groupBy("event_type").agg(pct.alias("q"))
    j = kll.join(exact, "event_type")
    q = F.col("q")
    ok = (
        (q[0] <= F.col("p25")) & (F.col("p25") <= q[2])
        & (q[3] <= F.col("p50")) & (F.col("p50") <= q[5])
        & (q[6] <= F.col("p75")) & (F.col("p75") <= q[8])
    )
    return j.select(
        "event_type",
        F.round(q[1], 4).alias("p25_exact"),
        F.round(q[4], 4).alias("p50_exact"),
        F.round(q[7], 4).alias("p75_exact"),
        ok.alias("kll_within_rank_tol"),
    ).orderBy("event_type")


def ext_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-HH — exact top-20 corpus terms via the two-pass Misra-Gries
    plan (operators/heavyhitters.py): per-partition MG(8192) candidates,
    broadcast-filtered exact recount — vocabulary-size-independent
    shuffle, exact output. The oracle recomputes the top-20 with a full
    SQL groupBy and pins ``mg_guarantee_ok`` (rank-20 count > N/k, the
    no-miss condition) to true."""
    from etl_python_sqlite_spark.operators.heavyhitters import heavy_hitters_topn

    # r12-opt: explode the session-shared lowercased word-array stage
    # (identical expression, cached) instead of re-tokenizing the corpus
    tokens = _doc_words_stage(spark, sf_dir).select(
        F.explode("ws").alias("term")
    )
    return heavy_hitters_topn(tokens, top_n=20, k=8192).orderBy("rank")


def ext_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4e — PII / contamination scan: regex hit counts per document
    (emails, URLs, long digit runs) + corpus rollup per source. The
    mandatory pre-training compliance sweep; patterns kept to the
    Java-regex ∩ RE2 subset so the oracle replays them exactly."""
    # NOT _docs_spread (r12-s4 negative A/B: 0.29 -> 0.44 s — three
    # extract_all counts are cheaper than the text exchange; contrast
    # pii_redact, whose extra replace chain + md5 flips the trade 2.3×)
    docs = _docs(spark, sf_dir)
    email = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
    url = rf"https?://[^{X.WS}]+"  # explicit WS class: RE2 \s lacks \x0B
    digits = r"[0-9]{6,}"
    counted = docs.select(
        "doc_id",
        "source",
        F.size(F.regexp_extract_all("text", F.lit(email), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(url), 0)).alias("n_urls"),
        F.size(F.regexp_extract_all("text", F.lit(digits), 0)).alias("n_digit_runs"),
    )
    return (
        counted.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_emails").cast("long").alias("total_emails"),
            F.sum("n_urls").cast("long").alias("total_urls"),
            F.sum("n_digit_runs").cast("long").alias("total_digit_runs"),
            F.sum(
                F.when(
                    (F.col("n_emails") + F.col("n_urls") + F.col("n_digit_runs")) > 0, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_flagged_docs"),
        )
    )


def ext_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4f — deterministic train/val/test split, stratified by lang.

    The split key is pure portable arithmetic on doc_id (Knuth
    multiplicative hash mod 100) — reproducible across engines/runs with
    NO RNG state, which is exactly what a training pipeline needs for a
    stable split. 80/10/10; output = per-(lang, split) counts the oracle
    replays bit-for-bit."""
    docs = _docs(spark, sf_dir)
    h = F.pmod(F.col("doc_id") * 2654435761, F.lit(2**32)) % 100
    split = (
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    )
    return (
        docs.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
    )


def ext_langid_char_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4b-2 — char-trigram-profile language ID (the n-gram heuristic
    proper), aggregated per detected language with label agreement."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select(
            "doc_id", "lang", X.langid_char_ngrams(F.col("text")).alias("lang_detected")
        )
        .groupBy("lang_detected")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("lang") == F.col("lang_detected"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_label_agree"),
        )
    )


def ext_ann_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3-scale-c — approximate kNN JOIN over ALL embeddings (the full
    adaptive-planes LSH operator still runs over the whole corpus),
    driver-checked through a recall invariant on a bounded query sample:
    the brute-force 3-NN of the first 100 vectors (O(100·n), fine as an
    audit at any scale) must be ≥⅓-recovered by the approximate join.
    Measured recovery (r7, margin-directed multiprobe with the planes²
    default — see lsh_probe_buckets_vectorized): 1.00 at sf0.01, 0.77
    at sf0.1, 0.67 at 16×·sf0.1 (32 k vectors) — the ⅓ floor holds with
    ≥2.0× margin at every measured scale, where the r5–r6 blind
    Hamming-1 probing had decayed 0.84 → 0.54 → 0.18 (VERDICT r6 #4).
    Output: one row (n_queries from SQL, k, recall_ok).
    pytest keeps the planted-pair ground-truth check on the operator."""
    from pyspark.sql import Window

    embs = _embs(spark, sf_dir)
    # r12-opt: n/dim from parquet footer metadata (zero Spark jobs) —
    # the operator's count+first probe was one driver action per
    # invocation (VERDICT r11 next #4)
    n_emb, dim_emb = _emb_meta(spark, sf_dir)
    approx = S.ann_knn_join_lsh(
        embs, k=3, n_rows=n_emb, dim=dim_emb
    ).select("id_a", "id_b")

    # Brute-force 3-NN audit. History of this stage's shape: the r7
    # form ran per-pair float cosine folds through a 1-partition
    # nested-loop join (3 folds/pair, one task — 3.8 s); r10 rewrote it
    # as posexplode + broadcast + (id_a,id_b) groupBy over quantized
    # element products (1.5-1.7 s — order-free exact integers); r11-opt
    # A/B'd BOTH against a per-pair INTEGER fold over the broadcast
    # cross join with the corpus side repartitioned to the cores:
    # 0.32-0.39 s vs 1.49-1.69 s for the explode form, identical dot_q
    # on all 199 900 pairs. The explode form's cost was never the
    # arithmetic — it was shuffling 12.8M exploded rows into the pair
    # groupBy; the fold keeps each pair's 64 products in-row (zero
    # exchanges before the top-k window) and stays order-free exact
    # (integer truncation per element, BIGINT sum).
    qa = embs.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("id_a"), S._as_double_array("embedding").alias("qv")
    )
    ca = embs.select(
        F.col("vec_id").alias("id_b"), S._as_double_array("embedding").alias("cv")
    ).repartition(spark.sparkContext.defaultParallelism)
    dots = (
        ca.crossJoin(F.broadcast(qa))
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.expr(
                "aggregate(zip_with(cv, qv,"
                " (x, y) -> CAST(floor(x * y * 1e9) AS BIGINT)),"
                " CAST(0 AS BIGINT), (a, x) -> a + x)"
            ).alias("dot_q"),
        )
    )
    norms = embs.select(
        F.col("vec_id").alias("_nid"),
        F.expr(
            "aggregate(CAST(embedding AS ARRAY<DOUBLE>), CAST(0 AS BIGINT),"
            " (acc, x) -> acc + CAST(floor(x * x * 1e9) AS BIGINT))"
        ).alias("norm_q"),
    )
    scored = (
        dots.join(
            F.broadcast(norms.select(F.col("_nid").alias("id_a"),
                                     F.col("norm_q").alias("na_q"))),
            "id_a",
        )
        .join(
            F.broadcast(norms.select(F.col("_nid").alias("id_b"),
                                     F.col("norm_q").alias("nb_q"))),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("dot_q")
                / (F.sqrt(F.col("na_q")) * F.sqrt(F.col("nb_q")))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cos_sim"), F.asc("id_b"))
    exact = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("id_a", "id_b")
    )
    hits = exact.join(approx, ["id_a", "id_b"])
    n_queries = embs.filter(F.col("vec_id") < 100).agg(
        F.count("*").alias("n_queries")
    )
    return (
        n_queries.crossJoin(hits.agg(F.count("*").alias("n_hits")))
        .select(
            "n_queries",
            F.lit(3).cast("long").alias("k"),
            # recall = n_hits / (3·n_queries) ≥ 1/3, integer-exact
            (F.col("n_hits") >= F.col("n_queries")).alias("recall_ok"),
        )
    )


# ---------------------------------------------------------------------------
# multimodal (EXT-M): real binary encode → decode round trip
# ---------------------------------------------------------------------------

def ext_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-M — multimodal ingest simulation with REAL decoders.

    Builds a deterministic binary payload per document (pixels / PCM
    samples are the document's UTF-8 bytes): even doc_ids become images
    (BMP when doc_id%4==0, PNG when %8==2, baseline JPEG when %16==6,
    else PPM), odd become WAV audio, and every doc_id%5==3 payload is
    corrupted to exercise per-row reject routing. The payloads then run
    through ``decode_media_metadata`` — the actual stdlib BMP/PPM/PNG/
    JPEG/WAV parsers over Arrow batches (JPEG is the full T.81 baseline
    codec in operators/jpeg.py: DCT + canonical Huffman both ways) — and
    the decoded metadata comes OUT of the parsers. The DuckDB oracle
    predicts every column from octet_length(text) alone, so a hash match
    proves the encode→decode round trip is bit-faithful (for JPEG: that
    SOF0 frame dims survive the lossy pixel path exactly).

    Scale: two Arrow-batched stages over (doc_id, text) — no shuffle at
    all until the driver's canonical sort; decode parallelism is the scan
    partitioning.
    """
    import numpy as np
    import pandas as pd

    from etl_python_sqlite_spark.operators import multimodal as M

    docs = _docs_spread(spark, sf_dir, ("doc_id", "text"), key=None)

    def _encode(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                b = (text or "").encode("utf-8")
                nb = len(b)
                if doc_id % 5 == 3:
                    content = b"\xffCORRUPT" + b[:8]
                    modality = "image" if doc_id % 2 == 0 else "audio"
                elif doc_id % 2 == 0:
                    w, h = 16, max(1, min(nb, 768) // 48)
                    raw = b[: w * h * 3].ljust(w * h * 3, b"\x00")
                    px = np.frombuffer(raw, np.uint8).reshape(h, w, 3)
                    if doc_id % 4 == 0:
                        content = M.encode_bmp(px)
                    elif doc_id % 8 == 2:
                        content = M.encode_png(px)  # zlib+filter real codec
                    elif doc_id % 16 == 6:
                        content = M.encode_jpeg(px)  # T.81 baseline codec
                    else:
                        content = M.encode_ppm(px)
                    modality = "image"
                else:
                    nf = min(nb, 4000)
                    samples = np.frombuffer(
                        raw_bytes := b[:nf].ljust(nf, b"\x00"), np.uint8
                    ).astype(np.int16) - 128
                    content = M.encode_wav(samples, sample_rate=8000)
                    modality = "audio"
                out.append((doc_id, modality, content))
            yield pd.DataFrame(out, columns=["media_id", "modality", "content"])

    media = docs.mapInPandas(
        _encode, schema="media_id long, modality string, content binary"
    )
    return M.decode_media_metadata(media).select(
        F.col("media_id").alias("doc_id"),
        "modality",
        "format",
        "width",
        "height",
        "sample_rate",
        "channels",
        "duration_ms",
        "decode_ok",
    )


# ---------------------------------------------------------------------------
# end-to-end curation funnel (the LLM-training-data showpiece)
# ---------------------------------------------------------------------------

def ext_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-F — the full curation pipeline in ONE declarative plan:
    language filter → quality filter → exact-dedup keeper → train/val/test
    split, with first-failure-wins attrition accounting (the same cascade
    discipline as the reference's motivo semantics).

    Output: one row per funnel outcome (reject_lang / reject_quality /
    reject_duplicate / kept_train / kept_val / kept_test) with doc and
    char volumes — the numbers a data-curation run reports.

    Scale shape: one scan; the only shuffles are the sha256 window for
    keeper election (uniform 256-bit keys) and the tiny final groupBy.
    Every stage is pure JVM expressions — langid, quality, split are all
    codegen; nothing leaves the executor until the ≤6-row summary.
    """
    from pyspark.sql import Window

    # r12-opt (guide §2.3 — project before the exchange): the keeper
    # window partitions on sha2(text), and langid/quality are pure
    # per-row functions of text — computing all three BEFORE the window
    # exchange (a) drops the full document text from the shuffle
    # (~60 B/row of derived columns instead of the KB-scale payload)
    # and (b) evaluates each regex tree ONCE per row instead of once
    # per CASE branch of the stage expression. Same expressions, same
    # values — the oracle twin is unchanged.
    #
    # r12-opt session 4 (§2.6): a row group is the unit of scan
    # parallelism, so on a low-row-group file the regex pass above
    # serializes onto one task (measured 0.69 s of the query's 1.2 s
    # wall). When the scan cannot keep the cores busy, hash-repartition
    # on _sha FIRST (REPARTITION_BY_NUM — AQE never coalesces a
    # user-specified count, and the window's required distribution is
    # satisfied so no second exchange appears) and run the regex
    # projection parallel after it; the exchange carries the text
    # payload once, from the scan task. At warehouse scale inputs
    # arrive as many row groups, the gate stays closed, and the two
    # projections collapse into the text-free pre-exchange shape above.
    # Interleaved A/B x2: 1.18-1.60 -> 0.52-0.67 s, collect-identical.
    docs = _docs(spark, sf_dir).select(
        "doc_id", "n_chars", "text", F.sha2(F.col("text"), 256).alias("_sha")
    )
    if _scan_underparallel(spark, sf_dir, "documents"):
        docs = docs.repartition(spark.sparkContext.defaultParallelism, "_sha")
    docs = docs.select(
        "doc_id",
        "n_chars",
        "_sha",
        X.langid(F.col("text")).alias("_lang"),
        F.round(X.quality_score(F.col("text")), 6).alias("_q6"),
    )
    keeper = F.min("doc_id").over(Window.partitionBy("_sha"))
    h = F.pmod(F.col("doc_id") * 2654435761, F.lit(2**32)) % 100
    split = F.when(h < 80, "train").when(h < 90, "val").otherwise("test")
    stage = (
        F.when(F.col("_lang") == "und", F.lit("reject_lang"))
        .when(F.col("_q6") < 0.5, F.lit("reject_quality"))
        .when(F.col("doc_id") != keeper, F.lit("reject_duplicate"))
        .otherwise(F.concat(F.lit("kept_"), split))
    )
    return (
        docs.select(stage.alias("stage"), "n_chars")
        .groupBy("stage")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars_total"),
        )
    )


def ext_sketch_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-S — mergeable HLL distinct-user rollup, driver-checked through
    an accuracy INVARIANT: the raw DataSketches estimate is
    engine-internal, but ``|estimate − exact| ≤ 5%·exact`` is a hard
    guarantee at lgk=14 (RSE ≈ 0.8%, so 5% is >6σ — effectively
    deterministic), and exact counts + merge fan-in ARE SQL-expressible.
    Output: (event_type, distinct_exact, n_sketches_merged, within_5pct);
    the oracle computes the first three exactly and pins the boolean to
    true. tests/test_sketch.py still pins the tighter bound and the
    merge≡one-shot law on the estimate itself.

    Build per-(event_type, day) sketches, union them per event_type —
    the incremental/hypertable rollup pattern: a new day's data extends
    the rollup by sketching ONE day and re-merging byte arrays, never
    rescanning history."""
    from etl_python_sqlite_spark.operators.sketch import distinct_rollup_with_exact
    from etl_python_sqlite_spark.sources.parquet import load_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    )
    roll = distinct_rollup_with_exact(
        ev, ["event_type", "day"], ["event_type"], "user_id", lgk=14
    )
    return roll.select(
        "event_type",
        "distinct_exact",
        "n_sketches_merged",
        (
            F.abs(F.col("distinct_estimate") - F.col("distinct_exact")) * 20
            <= F.col("distinct_exact")
        ).alias("within_5pct"),
    ).orderBy("event_type")


def ext_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-G — transitive dedup clustering: exact-Jaccard pairs over a
    bounded sample become edges, connected components collapse them into
    clusters, and doc_id == cluster_id elects the canonical document.

    Oracle: DuckDB replays the same edges and closes them with a
    recursive CTE (min reachable id == component minimum). The Spark
    side closes them with one union-find task (operators/graph.py),
    exact on any graph shape, chain-shaped clusters included.
    """
    from etl_python_sqlite_spark.operators.graph import dedup_cluster_assignment

    sample = _docs(spark, sf_dir).filter(F.col("doc_id") < 500)
    # shared sample score stage (r12, §2.4) filtered to this query's
    # threshold — the identical double compare the operator ran inline
    stage = _sample_jaccard_stage(spark, sf_dir)
    pairs = stage.filter(F.col("jaccard") >= 0.25)
    assign = dedup_cluster_assignment(sample, pairs.select("id_a", "id_b"))
    # keepalive the MEMO HANDLE itself, not just the derived filter
    # (cache.py composition rule)
    return tie(assign, keepalive=[pairs, stage])


def ext_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-Q — Gopher-style repetition quality filter: per-document
    duplicate-word fraction, duplicate-3-gram fraction, and the corpus
    share of the single most frequent word; docs failing any threshold
    are labeled for removal.

    Everything is a JVM expression or an explode→groupBy (the top-word
    count) — no HOF folds in the hot path, no Python. Ratios are exact
    int/int double divisions, so the DuckDB oracle replays bit-equal.
    """
    from pyspark.sql import Window

    # r12-opt session 4 (§2.6, the curation-funnel gate): the in-row
    # n_words/dup_word_frac metrics serialize onto the scan task when
    # the file has fewer row groups than cores — hash-repartition on
    # doc_id first (the joins below need that distribution anyway;
    # REPARTITION_BY_NUM is never AQE-coalesced). Gate closed at
    # warehouse row-group counts. Interleaved A/B x2: 1.48-1.72 ->
    # 1.20-1.29 s, collect-identical.
    docs = _docs_spread(spark, sf_dir, ("doc_id", "text"))
    base = docs.select(
        "doc_id",
        X.n_words(F.col("text")).alias("n_words"),
        X.dup_word_frac(F.col("text")).alias("dup_word_frac"),
    )
    # One posexplode feeds BOTH per-doc metrics. The window shuffle
    # clusters by doc_id; every downstream groupBy keys on a superset of
    # doc_id, so Spark reuses that single exchange for the n-gram agg,
    # the top-word agg, and their join — explode→flat-columns→groupBy in
    # place of the interpreted 60×-slower transform() HOF (the measured
    # pitfall in CLAUDE.md; this cut the query from 6.4s to ~2s at sf0.1).
    # r12-opt: posexplode the shared RAW word-array stage (identical
    # (pos, token) rows; the in-row n_words/dup_word_frac metrics above
    # stay on the doc scan they already share)
    ex = _raw_words_stage(spark, sf_dir).select(
        "doc_id", F.posexplode("ws").alias("pos", "w")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        ex.withColumn("w1", F.lead("w", 1).over(win))
        .withColumn("w2", F.lead("w", 2).over(win))
        # full 3-grams only; docs shorter than 3 words keep their single
        # whole-doc gram at pos 0 (concat_ws skips the null leads) —
        # exactly the multiset of starts 1..max(size-2, 1)
        .filter(F.col("w2").isNotNull() | (F.col("pos") == 0))
        .select("doc_id", F.concat_ws(" ", "w", "w1", "w2").alias("gram"))
    )
    ngram = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.count("*").alias("n_distinct_grams"),
        )
        .select(
            "doc_id",
            (
                F.lit(1.0)
                - F.col("n_distinct_grams").cast("double") / F.col("n_grams")
            ).alias("dup_3gram_frac"),
        )
    )
    top = (
        ex.groupBy("doc_id", "w")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top_word_cnt"))
    )
    return (
        base.join(ngram, "doc_id", "left")
        .join(top, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            "dup_word_frac",
            "dup_3gram_frac",
            F.when(
                F.col("n_words") > 0,
                F.coalesce("top_word_cnt", F.lit(0)).cast("double")
                / F.col("n_words"),
            )
            .otherwise(F.lit(0.0))
            .alias("top_word_frac"),
        )
        .withColumn(
            "keep",
            (F.col("dup_3gram_frac") <= 0.9) & (F.col("top_word_frac") <= 0.2),
        )
        .orderBy("doc_id")
    )


def ext_contamination_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-Q2 — benchmark-contamination scan: which corpus documents
    share 5-gram shingles with a held-out benchmark set (here: every
    50th doc), and how much of the document is covered.

    The benchmark shingle set is tiny relative to any corpus, so the
    join is a broadcast of the distinct benchmark shingles against the
    exploded corpus shingles — per-doc overlap is then one groupBy.
    This is the standard n-gram decontamination pass (GPT-3 appendix /
    Dolma) as a pure equi-join plan.
    """
    docs = _docs(spark, sf_dir)
    # codegen posexplode+lead shingling (NOT the interpreted word_shingles
    # array HOF — same 60× pitfall as the repetition filter), deduped to
    # the per-doc shingle SET and persisted: the frame feeds three
    # branches (totals / benchmark side / corpus side) and re-inlining
    # the window would re-shuffle it per branch. r12-opt: the shingle
    # window rides the shared RAW word-array stage (identical tokens by
    # construction; only doc_id is needed, so the kmv source-join
    # negative does not apply). Downstream joins are an explicit
    # broadcast + doc_id joins between branches of the SAME persisted
    # frame — no stat-sensitive self-join to flip (the winnowing rule).
    sh = (
        D.exploded_shingles(
            docs, k=5, words_arr=_raw_words_stage(spark, sf_dir)
        )
        .dropDuplicates(["doc_id", "shingle"])
        .persist()
    )
    bench = (
        sh.filter(F.col("doc_id") % 50 == 0)
        .select("shingle")
        .distinct()
    )
    totals = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        sh.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    out = (
        totals.filter(F.col("doc_id") % 50 != 0)
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            (
                F.coalesce("n_contaminated", F.lit(0)).cast("double")
                / F.col("n_shingles")
            ).alias("contaminated_frac"),
        )
        .filter(F.col("n_contaminated") > 0)
        .orderBy("doc_id")
    )
    return tie(out, sh)


def ext_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-Q3 — per-document top-3 distinctive terms by tf·rdf
    (term frequency × reciprocal document frequency). The score is
    tf/df as an exact int/int double division — deliberately NOT
    ln-based idf, because transcendentals are not bit-reproducible
    across engines and the ranking, not the absolute value, is the
    product. Ties break on the term itself, so output is total-ordered.

    Plan: explode → groupBy(doc,term) [tf] → groupBy(term) [df] →
    broadcast the vocabulary-sized df table back → per-doc window
    top-3. All shuffles are on uniform keys; no driver state.
    """
    from pyspark.sql.window import Window

    # r12-opt: ride the shared word-array stage (guide §2.4)
    toks = _doc_words_stage(spark, sf_dir).select(
        "doc_id", F.explode("ws").alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(F.broadcast(df_), "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        (F.col("tf").cast("double") / F.col("df")).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "df", "score")
        .orderBy("doc_id", "rank")
    )


def ext_minhash_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-G2 — the full-corpus scale path: MinHash+LSH near-dup pairs →
    connected components → per-cluster summary. Edges come from the
    PORTABLE minhash pipeline, so the DuckDB oracle rebuilds the exact
    edge set and closes it with a recursive CTE — the whole
    LSH→clustering path is value-hash-checked. This is the production
    shape — candidate pairs from LSH, never a quadratic scan, clusters
    closed by one union-find task."""
    docs = _docs(spark, sf_dir)
    pairs = _minhash_pairs(spark, sf_dir)  # shared stage (r8)
    return _cluster_summary(docs, pairs, id_col="doc_id")


def ext_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-P1 — token-budget sequence packing (GPT-style concat-and-chunk).

    Assigns documents to fixed-budget training sequences: within each
    ``source`` shard, docs are laid out in doc_id order and a sequence
    boundary falls every 512 tokens of exclusive cumulative length — the
    deterministic "concatenate the stream, chunk every N tokens" layout
    every LLM pre-training loader uses. Output = one row per (source,
    seq_id) with its doc count / token mass / doc range, so the packing
    efficiency of the corpus is directly auditable.

    Scale: the window is PARTITIONED BY source (the shard key), so the
    cumulative sum is a per-partition sort, not a global one — each
    source packs independently on its own executors, which is exactly
    how a 100 TB corpus is laid out (pack within shard, never a global
    total order). Token counting is codegen regexp; one shuffle for the
    window, one map-side-combined groupBy on the same key prefix.
    """
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "source",
        "doc_id",
        F.size(X.regex_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = toks.withColumn(
        "prev_tokens", F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long"))
    ).withColumn("seq_id", F.expr("prev_tokens div 512"))
    return (
        cum.groupBy("source", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "seq_id")
    )


def ext_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-P2 — temperature-scaled domain mixture weights (α = 0.5).

    The sampling-weight table a multi-domain pre-training run needs:
    per-source token mass → natural share → temperature-flattened mixing
    weight w_i ∝ share_i^α (α=0.5, the standard UnifiedQA/mT5 rescale
    that up-samples small domains), plus the implied over/under-sampling
    factor (epochs_at_budget = weight/share). All exact-long token sums;
    the two normalizations are the only doubles and are rounded to 6dp
    for cross-engine hash stability.

    Scale: one map-side-combined groupBy over the shard key; the window
    normalization runs on the POST-aggregate frame (|sources| rows, a
    driver-sized broadcast in any real corpus) so the single-partition
    window is O(domains), never O(rows).
    """
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(X.regex_tokens(F.col("text"))).cast("long"))
        .cast("long")
        .alias("total_tokens"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # DETERMINISM: the normalizers must be sums of EXACT integers, never
    # of doubles — Σ over doubles is addition-order-dependent and the
    # window's row order differs between engines (review finding). The
    # sqrt is floor-quantized to nano-units per row (floor of the same
    # IEEE double is identical on both engines), so both window sums are
    # exact longs, and the final 6dp values use the integer-rounding
    # formula (_avg_expr discipline) instead of ROUND(double).
    big = F.sum("total_tokens").over(w_all)
    share = F.col("total_tokens").cast("double") / big
    s9 = F.floor(F.sqrt(share) * F.lit(1_000_000_000.0)).cast("long")
    s9_sum = F.sum(s9).over(w_all)
    share6 = F.expr(
        "((2 * total_tokens * 1000000 + _big) div (2 * _big)) / 1000000.0D"
    )
    weight6 = F.expr("((2 * _s9 * 1000000 + _s9sum) div (2 * _s9sum)) / 1000000.0D")
    return (
        per_src.select(
            "source",
            "n_docs",
            "total_tokens",
            big.alias("_big"),
            s9.alias("_s9"),
            s9_sum.alias("_s9sum"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            share6.alias("token_share"),
            weight6.alias("mix_weight"),
        )
        # ratio of the two exact 6dp quantities: identical doubles on
        # both engines; round-6 residual risk is the shortest-repr
        # corner (~1e-10 per value), same acceptance as jaccard
        .withColumn(
            "epochs_at_budget",
            F.round(F.col("mix_weight") / F.col("token_share"), 6),
        )
        .orderBy("source")
    )


def ext_word_df_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-P3 — vocabulary document-frequency histogram (Zipf audit).

    Buckets the corpus vocabulary by document frequency (1, 2–10,
    11–100, 101–1000, 1000+) and reports type/token counts per bucket —
    the standard health check before fixing a tokenizer vocab: a corpus
    whose mass sits in hapax words is noise; one with no mid-frequency
    band is template spam.

    Scale: explode → two-phase distinct-doc count per word (partial
    aggregation both phases, uniform shuffle key = the word itself; at
    warehouse scale the word would be xxhash64-keyed to bound key width,
    noted here because the oracle needs the raw string). The histogram
    re-agg is O(|vocab|) → 5 rows.
    """
    # r12-opt: ride the shared word-array stage (guide §2.4)
    exploded = (
        _doc_words_stage(spark, sf_dir)
        .select("doc_id", F.explode("ws").alias("word"))
        .filter(F.col("word") != "")
    )
    per_word = exploded.groupBy("word").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count("*").alias("occurrences"),
    )
    bucket = (
        F.when(F.col("df") == 1, "1")
        .when(F.col("df") <= 10, "2-10")
        .when(F.col("df") <= 100, "11-100")
        .when(F.col("df") <= 1000, "101-1000")
        .otherwise("1000+")
    )
    return (
        per_word.groupBy(bucket.alias("df_bucket"))
        .agg(
            F.count("*").alias("n_words"),
            F.sum("occurrences").cast("long").alias("total_occurrences"),
        )
        .orderBy("df_bucket")
    )


def ext_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-P4 — incremental batch-vs-corpus exact dedup (Bloom-style
    broadcast prefilter + exact verification).

    Models the nightly-ingest case: an already-ingested corpus (docs with
    doc_id % 5 ≤ 2) receives a new delivery (doc_id % 5 ≥ 2) that partly
    re-delivers existing content. A batch doc is "seen" iff its exact
    text already exists in the corpus. Output = per-source batch /
    seen / new counts.

    Scale shape: the corpus collapses to DISTINCT 8-byte xxhash64 keys —
    ~1/1000th the corpus bytes — which broadcast so the batch is
    prefiltered MAP-SIDE with zero batch shuffle (the same role a Bloom
    filter plays; exact set here since Spark exposes no public
    bloom_filter_agg). Only prefilter survivors join corpus text for
    exact verification, so hash collisions cannot create false "seen"
    rows and the wide-text shuffle is bounded by the true overlap, not
    the batch size. At corpus sizes past broadcast limits the same plan
    degrades gracefully to a shuffled semi-join on the 8-byte key.
    """
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 5 <= 2)
    batch = docs.filter(F.col("doc_id") % 5 >= 2)

    corpus_keys = corpus.select(F.xxhash64("text").alias("h")).distinct()
    cand = (
        batch.select("doc_id", "source", "text", F.xxhash64("text").alias("h"))
        .join(F.broadcast(corpus_keys), "h", "left_semi")
    )
    corpus_kv = corpus.select(
        F.xxhash64("text").alias("h"), F.col("text").alias("c_text")
    ).distinct()
    confirmed = (
        cand.join(corpus_kv, "h")
        .filter(F.col("text") == F.col("c_text"))
        .select("doc_id", "source")
        .distinct()
    )
    per_batch = batch.groupBy("source").agg(F.count("*").alias("n_batch"))
    per_seen = confirmed.groupBy("source").agg(F.count("*").alias("n_seen"))
    return (
        per_batch.join(per_seen, "source", "left")
        .select(
            "source",
            "n_batch",
            F.coalesce("n_seen", F.lit(0)).cast("long").alias("n_seen"),
            (F.col("n_batch") - F.coalesce("n_seen", F.lit(0)))
            .cast("long")
            .alias("n_new"),
        )
        .orderBy("source")
    )


def ext_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-P5 — deterministic quality-weighted corpus sampling.

    Keeps a document iff its Knuth-hash uniform (doc_id·2654435761 mod
    2³² / 2³²) falls below its composite quality score — i.e. each doc is
    kept with probability equal to its quality, but with NO RNG state:
    the sample is bit-reproducible across engines, runs, and partitionings,
    which is what makes a training-set cut auditable. Output = per-source
    funnel (docs, kept, kept token mass, mean kept quality).

    Scale: pure map-side predicate (hash + the codegen quality
    expression) followed by one map-side-combined groupBy — no shuffle
    beyond the aggregation; nothing here depends on row order or
    partition count.
    """
    docs = _docs_spread(spark, sf_dir, ("doc_id", "source", "text"))  # §2.6
    u = (
        F.pmod(F.col("doc_id") * 2654435761, F.lit(2**32)).cast("double")
        / F.lit(2.0**32)
    )
    scored = docs.select(
        "source",
        F.size(X.regex_tokens(F.col("text"))).cast("long").alias("n_tokens"),
        X.quality_score(F.col("text")).alias("quality"),
        (u < X.quality_score(F.col("text"))).alias("kept"),
    )
    # mean quality over EXACT micro-unit integers, not AVG(double): the
    # double sum is partial-order-dependent and ROUND(double) is not
    # portable (review finding; the _avg_expr discipline). floor() of the
    # same IEEE double is identical on both engines.
    qmicro = F.floor(F.col("quality") * F.lit(1_000_000.0)).cast("long")
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(F.col("kept"), F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
            F.sum(F.when(F.col("kept"), qmicro).otherwise(0))
            .cast("long")
            .alias("_qsum"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            "kept_tokens",
            F.when(
                F.col("n_kept") > 0,
                F.expr("((2 * _qsum + n_kept) div (2 * n_kept)) / 1000000.0D"),
            ).alias("mean_kept_quality"),
        )
        .orderBy("source")
    )


def ext_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-P6 — PII redaction (the write path the scan implies): emails,
    URLs and long digit runs replaced with typed placeholders, with a
    per-document redaction count and an md5 of the redacted text — the
    hash makes the oracle compare prove BYTE parity of the redacted
    output, not just matching counts. Patterns stay in the Java-regex ∩
    RE2 subset so both engines substitute identically.

    Scale: pure map-side regexp_replace chain (one pass, codegen), no
    shuffle until the driver's canonical sort.
    """
    docs = _docs_spread(spark, sf_dir, ("doc_id", "text"))  # §2.6
    email = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
    url = rf"https?://[^{X.WS}]+"  # explicit WS class: RE2 \s lacks \x0B
    digits = r"[0-9]{6,}"
    n_hits = (
        F.size(F.regexp_extract_all("text", F.lit(email), 0))
        + F.size(F.regexp_extract_all("text", F.lit(url), 0))
        + F.size(F.regexp_extract_all("text", F.lit(digits), 0))
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), email, "<EMAIL>"),
            url,
            "<URL>",
        ),
        digits,
        "<NUM>",
    )
    return docs.select(
        "doc_id",
        n_hits.cast("long").alias("n_redactions"),
        F.length(redacted).cast("long").alias("redacted_len"),
        F.md5(redacted.cast("binary")).alias("redacted_md5"),
    )


def ext_word_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-P7 — word-rarity curation score: per document, the mean corpus
    frequency of its words (template spam scores HIGH — its words are
    everywhere; rare-vocab noise scores LOW). The log-free cousin of
    unigram-LM scoring, chosen deliberately: every quantity is an exact
    integer (corpus counts) or an exact integer ratio, so the oracle
    replays it bit-for-bit where Σlog(p) never survives libm differences
    across engines.

    Scale: word-frequency table = one groupBy on the (uniform) word key;
    scoring = exploded words ⋈ freq (the freq table is |vocab|-sized —
    broadcast in practice) → one groupBy back on doc_id. Mean as the
    integer-rounding _avg_expr discipline.
    """
    from etl_python_sqlite_spark.plans.relational import _avg_expr

    # r12-opt: ride the shared word-array stage (guide §2.4)
    ex = (
        _doc_words_stage(spark, sf_dir)
        .select("doc_id", F.explode("ws").alias("word"))
        .filter(F.col("word") != "")
    )
    freq = ex.groupBy("word").agg(F.count("*").alias("word_freq"))
    return (
        ex.join(F.broadcast(freq), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("word_freq").cast("long").alias("_s"),
        )
        .select(
            "doc_id",
            "n_words",
            _avg_expr("_s", "n_words", 0, 4).alias("mean_word_freq"),
        )
        .orderBy("doc_id")
    )


def ext_label_centroid_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3-audit — per-label centroid cohesion over the embeddings table,
    fully oracle-checked via the exactable variant (cosine to the
    micro-quantized centroid SUM — scale-invariant, so order-dependent
    float means never arise; see
    operators/similarity.label_centroid_quality_exactable).
    tests/test_similarity.py pins the float-mean variant against numpy."""
    return S.label_centroid_quality_exactable(_embs(spark, sf_dir))


# ---------------------------------------------------------------------------
# round-3: chunking + exact-substring decontamination
# ---------------------------------------------------------------------------

#: chunk geometry shared by the query and its oracle twin
_CHUNK_SIZE = 120
_CHUNK_STRIDE = 90


def ext_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT — overlapping fixed-window document chunking (the standard
    context-window prep for embedding / retrieval pipelines): size-120
    char chunks every 90 chars, so consecutive chunks overlap by 30.

    Pure codegen: the chunk index list is ``sequence(0, (len-1) div
    stride)`` exploded JVM-side, the chunk text one ``substring`` — no
    Python, no shuffle at all (chunking is embarrassingly parallel; the
    ORDER BY is only the contract's determinism canon). Chunk identity
    travels as the portable 60-bit md5 hash, so the DuckDB twin replays
    every chunk bit-for-bit; corpus is ASCII by construction, so char
    and byte offsets agree across engines.
    """
    from etl_python_sqlite_spark.functions.portable import phash60

    docs = _docs(spark, sf_dir)
    idx = F.explode(
        F.expr(f"sequence(0, greatest(length(text)-1, 0) div {_CHUNK_STRIDE})")
    ).alias("chunk_idx")
    chunk = F.expr(
        f"substring(text, chunk_idx * {_CHUNK_STRIDE} + 1, {_CHUNK_SIZE})"
    )
    return (
        docs.select("doc_id", "text", idx)
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            (F.col("chunk_idx") * _CHUNK_STRIDE + 1)
            .cast("long")
            .alias("chunk_start"),
            F.length(chunk).cast("long").alias("chunk_len"),
            phash60(chunk).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


def ext_substring_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT — exact-substring decontamination: verbatim benchmark snippets
    (48-char spans lifted from every 97th document) searched in every
    other document's full text. Complements the shingle-overlap scan
    (ext_contamination_scan): shingles catch fuzzy overlap, exact
    substring catches verbatim leaks regardless of tokenization.

    Scale shape: the snippet set is tiny and BROADCAST; the scan side
    streams once through a nested-loop probe of #snippets ``contains``
    calls per row — at 100 TB this is the only sane plan (an n-gram
    equi-join on 48-grams would explode the corpus 48×), and it is why
    the plan-quality sweep allowlists this query's BroadcastNestedLoop.
    """
    docs = _docs(spark, sf_dir)
    snippets = (
        docs.filter((F.col("doc_id") % 97 == 0) & (F.length("text") >= 114))
        .select(
            F.col("doc_id").alias("snippet_doc"),
            F.substring("text", 40, 48).alias("snippet"),
        )
    )
    hits = (
        docs.crossJoin(F.broadcast(snippets))
        .filter(
            (F.col("doc_id") != F.col("snippet_doc"))
            & F.col("text").contains(F.col("snippet"))
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_snippets_hit"),
            F.min("snippet_doc").alias("first_snippet_doc"),
        )
        .orderBy("doc_id")
    )
    return hits


def ext_cross_source_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT — source-priority dedup: when the same content appears in
    multiple sources, keep the copy from the most trusted source (the
    standard wiki-over-CommonCrawl preference in corpus assembly).
    Priority = numeric source suffix (lower wins), ties by doc_id.

    One hash-groupBy window over the portable content hash — the
    row_number argmin is a single narrow shuffle on the 60-bit key,
    uniform by construction, and only duplicate groups survive the
    n_copies > 1 cut.
    """
    from etl_python_sqlite_spark.functions.portable import phash60

    docs = _docs(spark, sf_dir)
    pri = F.regexp_extract("source", "([0-9]+)$", 1).cast("long")
    keyed = docs.select(
        "doc_id",
        "source",
        pri.alias("_pri"),
        phash60(F.col("text")).alias("_h"),
    )
    w = Window.partitionBy("_h").orderBy("_pri", "doc_id")
    return (
        keyed.select(
            "*",
            F.row_number().over(w).alias("_rn"),
            F.count("*").over(Window.partitionBy("_h")).alias("n_copies"),
        )
        .filter((F.col("_rn") == 1) & (F.col("n_copies") > 1))
        .select(
            F.col("doc_id").alias("kept_doc"),
            F.col("source").alias("kept_source"),
            F.col("n_copies").cast("long").alias("n_copies"),
        )
        .orderBy("kept_doc")
    )


def ext_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT — chunk-level dedup over the chunking pipeline's output (the
    retrieval-corpus case: near-identical passages recur across
    documents even when whole docs differ). Groups the overlapping
    120-char chunks by their portable content hash and reports each
    duplicated chunk with its spread (#docs) and volume (#occurrences),
    keeping the lowest (doc, idx) occurrence as the canonical copy.

    Composition note: this is ext_doc_chunking's frame feeding a
    hash-groupBy — one extra narrow shuffle on the 60-bit key; chunk
    text itself never shuffles.
    """
    chunks = ext_doc_chunking(spark, sf_dir)
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            # lexicographic (doc, idx) argmin as ONE encoded long — the
            # same integer min on both engines (chunk_idx < 2^20 by the
            # chunk geometry; struct-min is Spark-only)
            F.min(F.col("doc_id") * 1048576 + F.col("chunk_idx")).alias("_keep"),
        )
        .filter(F.col("n_occurrences") > 1)
        .select(
            "chunk_hash",
            "n_occurrences",
            "n_docs",
            F.expr("_keep div 1048576").alias("keeper_doc"),
            (F.col("_keep") % 1048576).alias("keeper_idx"),
        )
        .orderBy("chunk_hash")
    )


def ext_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT — the one-row dataset card every corpus release ships with:
    volume (docs/chars/words), provenance spread (sources, languages),
    and exact-duplicate rate. ONE aggregation pass over the scan — the
    dup rate comes from count_distinct of the portable content hash in
    the same aggregate, not a second dedup job — and the rate is
    floor-quantized to micro-units (integer div) per the repo's float
    discipline.
    """
    from etl_python_sqlite_spark.functions.portable import phash60

    docs = _docs(spark, sf_dir)
    agg = docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.sum(X.n_words(F.col("text"))).cast("long").alias("total_words"),
        F.countDistinct(phash60(F.col("text"))).alias("_uniq"),
    )
    return agg.select(
        "n_docs",
        "n_sources",
        "n_langs",
        "total_chars",
        "total_words",
        (F.col("n_docs") - F.col("_uniq")).alias("n_dup_docs"),
        F.expr("(1000000 * (n_docs - _uniq)) div n_docs").alias(
            "dup_rate_micro"
        ),
    )


def ext_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT — int8 symmetric per-vector quantization with a
    reconstruction-error audit (the vector-compression step ANN serving
    layers run before indexing: 4× smaller vectors, bounded recall
    loss). Per vector: scale = max |x|, qᵢ = floor(xᵢ/scale·127), and the
    RMS reconstruction error of the dequantized vector, floor-quantized
    to micro-units.

    Cross-engine exactness: the quantize → dequantize → squared-error
    fold is a PER-ROW sequential float pipeline (zip_with + aggregate
    with 0.0 init ↔ list_transform + list_reduce seeded with a prepended
    0.0) — bit-identical on both engines per the repo's per-row-fold
    invariant; every output column is an integer. Zero-vector guard:
    scale 0 ⇒ all-zero q, zero error, on both sides.
    """
    embs = _embs(spark, sf_dir)
    staged = (
        embs.select(
            "vec_id", F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("v")
        )
        .withColumn("amax", F.expr("array_max(transform(v, x -> abs(x)))"))
        .withColumn(
            "q",
            F.expr(
                "CASE WHEN amax > 0D THEN"
                " transform(v, x -> CAST(floor(x / amax * 127) AS INT))"
                " ELSE transform(v, x -> 0) END"
            ),
        )
        .withColumn(
            "err2",
            F.expr(
                "aggregate(zip_with(v, q,"
                " (x, qq) -> (x - qq * amax / 127.0D)"
                " * (x - qq * amax / 127.0D)),"
                " CAST(0 AS DOUBLE), (a, b) -> a + b)"
            ),
        )
    )
    return staged.select(
        "vec_id",
        F.expr("array_min(q)").cast("long").alias("q_min"),
        F.expr("array_max(q)").cast("long").alias("q_max"),
        F.expr(
            "CAST(floor(sqrt(err2 / size(v)) * 1000000) AS BIGINT)"
        ).alias("rms_err_micro"),
    ).orderBy("vec_id")


def ext_setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2-scale — exact set-similarity self-join with prefix filtering
    (AllPairs/PPJoin; operators/dedup.setsim_join_prefix). The filter is
    EXACT (no false negatives), so the output equals the brute-force
    all-pairs join — which is precisely what the DuckDB oracle computes
    over the same bounded sample. The bound exists only to keep the
    oracle's quadratic twin cheap; the Spark plan is the corpus-scale
    shape (rare-first prefix index, length filter in the join,
    verify-on-candidates-only) and pytest additionally pins full-corpus
    equality against the naive inverted-index join at test scale."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 400)
    return D.setsim_join_prefix(docs, threshold_micro=500_000)


def ext_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2-semantic — SemDeDup audit (operators/similarity.semantic_*):
    cluster the embedding space, exhaustive near-dup search within each
    cluster. The clustering itself has no SQL twin, so the one-row audit
    follows the ANN pattern: non-boolean columns are SQL-exact
    (``n_vectors``; ``n_sample_pairs`` = pairwise fold-cosine ≥ 0.9 among
    vec_id < 150 — the sequential-fold/ROUND(6) combination both engines
    compute bit-identically), and the booleans pin Spark against its own
    exact ground truth:

    * ``clusters_ok`` — assignment is total (one row per vector, ≤ k
      distinct clusters);
    * ``containment_ok`` — every within-sample pair SemDeDup reports is
      in the exact pair set at θ−ε (clustering can only miss pairs,
      never invent them; ε = 2·10⁻⁶ absorbs the numpy-matmul vs
      sequential-fold last-ulp gap);
    * ``cocluster_exhaustive_ok`` — every exact pair at θ+ε whose two
      vectors were co-clustered IS reported: the within-cluster search
      is exhaustive, the property that separates SemDeDup from a
      sampling heuristic.

    All three stay meaningful (vacuously for the pair booleans) under
    per-round testdata regeneration — this round's embeddings contain
    zero ≥0.9 pairs; ground-truth recall on planted corpora lives in
    tests/test_similarity.py."""
    embs = _embs(spark, sf_dir)
    cents = _semantic_centroids_stage(
        spark, sf_dir, "semdedup", embs, n_clusters=16, refine_iters=1
    )
    assigned = S.semantic_assign(
        embs, n_clusters=16, refine_iters=1, cents=cents
    ).persist()
    pairs = S.semantic_dedup_pairs_from_assignment(
        assigned, threshold=0.9
    ).persist()
    # ONE eager action warms BOTH caches (r12-opt, the sequential-
    # consumers rule): the pair search scans — and thereby materializes
    # — the assignment persist, so the ca/cb joins and cluster stats in
    # the final action read a warm cache; a separate assigned.count()
    # was one whole driver action (~0.9 s fixed) for no extra safety.
    pairs.count()

    n_vec = embs.agg(F.count("*").cast("long").alias("n_vectors"))
    # ONE scored sample frame, three threshold filters (r11-opt): the
    # exact/relaxed/strict ground truths previously ran three separate
    # fold scans (~1.3 s each, single-task BNLJ) inside the final
    # action's plan; the persisted 11k-row score table feeds all three
    # (tie-scoped below). Same values — filter over identical scores.
    scored_sample = S.cosine_pairs_sample_scored(embs, max_id=150).persist()
    exact = scored_sample.filter(F.col("cos_sim") >= 0.9)
    exact_relaxed = scored_sample.filter(F.col("cos_sim") >= 0.899998)
    exact_strict = scored_sample.filter(F.col("cos_sim") >= 0.900002)
    n_sample = exact.agg(F.count("*").cast("long").alias("n_sample_pairs"))

    sample_found = pairs.filter((F.col("id_a") < 150) & (F.col("id_b") < 150))
    containment = sample_found.join(
        exact_relaxed.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
    ).agg((F.count("*") == 0).alias("containment_ok"))

    ca = assigned.select(
        F.col("vec_id").alias("id_a"), F.col("centroid_id").alias("c_a")
    )
    cb = assigned.select(
        F.col("vec_id").alias("id_b"), F.col("centroid_id").alias("c_b")
    )
    coclustered = (
        exact_strict.select("id_a", "id_b")
        .join(ca, "id_a")
        .join(cb, "id_b")
        .filter(F.col("c_a") == F.col("c_b"))
    )
    exhaustive = coclustered.join(
        pairs.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
    ).agg((F.count("*") == 0).alias("cocluster_exhaustive_ok"))

    cluster_stats = assigned.agg(
        F.count("*").alias("n_assigned"),
        F.countDistinct("centroid_id").alias("n_clusters"),
    )
    out = (
        n_vec.crossJoin(n_sample)
        .crossJoin(cluster_stats)
        .crossJoin(containment)
        .crossJoin(exhaustive)
        .select(
            "n_vectors",
            "n_sample_pairs",
            (
                (F.col("n_assigned") == F.col("n_vectors"))
                & (F.col("n_clusters") <= 16)
                & (F.col("n_clusters") >= 1)
            ).alias("clusters_ok"),
            "containment_ok",
            "cocluster_exhaustive_ok",
        )
    )
    return tie(out, assigned, pairs, scored_sample)


def ext_bpe_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-T1 — BPE tokenizer training + application
    (operators/bpe.py): one distributed word-histogram pass trains 64
    merge rules driver-side (the corpus-size-independent trainer shape);
    an Arrow-batched encoder then tokenizes every document. The merge
    loop has no SQL twin, so the audit row anchors on SQL-exact counts
    and pins the encoder against arithmetic invariants:

    * ``n_docs``, ``total_words`` — SQL-exact (the encoder's own word
      splitter must reproduce the engine word count bit-for-bit);
    * ``merges_complete_ok`` — the trainer produced all 64 rules;
    * ``bounds_ok`` — Σtokens ∈ [Σwords, Σ(chars+1)]: every word is ≥1
      token and ≤ its character count + END;
    * ``compression_ok`` — 64 merges strictly compress the corpus below
      the character-level ceiling (vacuous only on an empty corpus).

    Ground truth for the trainer itself (merge rules vs an independent
    transcription of the published algorithm, roundtrip losslessness,
    compression on planted corpora) lives in tests/test_bpe.py."""
    from etl_python_sqlite_spark.operators import bpe as B

    docs = _docs(spark, sf_dir)
    # r9: the histogram pass is the memoized stage shared with
    # ext_unigram_tokenizer (both trainers consume the same counts)
    merges = B.merges_from_histogram(
        _word_histogram_stage(spark, sf_dir, max_vocab=8192), 64
    )
    # counts has exactly ONE consumer (the totals aggregate —
    # char_ceiling reads `docs`): no persist/eager-count (the r8
    # single-consumer rule; the earlier comment claiming two consumers
    # was wrong — code-review r9)
    counts = B.bpe_token_counts(docs, merges)
    totals = counts.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum("n_bpe_tokens").cast("long").alias("_tok"),
    )
    char_ceiling = docs.agg(
        F.sum(
            F.when(F.length(X._ws_strip(F.col("text"))) == 0, 0).otherwise(
                F.length(F.col("text")) + X.n_words(F.col("text"))
            )
        )
        .cast("long")
        .alias("_ceil")
    )
    out = totals.crossJoin(char_ceiling).select(
        "n_docs",
        "total_words",
        F.lit(len(merges) == 64).alias("merges_complete_ok"),
        (
            (F.col("_tok") >= F.col("total_words"))
            & (F.col("_tok") <= F.col("_ceil"))
        ).alias("bounds_ok"),
        (F.col("_tok") < F.col("_ceil")).alias("compression_ok"),
    )
    return out


def ext_embedding_pooling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-V1 — label-level embedding pooling: the per-dimension SUM of
    micro-quantized components (posexplode → groupBy — partial aggs
    before the shuffle). The quantized sum IS the pooled vector up to
    the 1/n scale (cosine-invariant, the repo's centroid-SUM trick), so
    mean-pooling ships as (sums, count) without a single cross-row
    float add — bit-exact on every engine and partition layout."""
    embs = _embs(spark, sf_dir)
    return (
        embs.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "dim", "x"
            ),
        )
        .groupBy("label", "dim")
        .agg(
            F.sum(F.floor(F.col("x") * 1000000)).cast("long").alias("sum_micro"),
            F.count("*").cast("long").alias("n_vectors"),
        )
        .orderBy("label", "dim")
    )


# ---------------------------------------------------------------------------
# round-4: curation scoring (bigram LM / DSIR / leakage-free split)
# ---------------------------------------------------------------------------


def ext_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-C1 — CCNet-shape LM quality scoring: per document, the mean
    Laplace-smoothed corpus-bigram conditional probability of its word
    transitions (operators/curation.bigram_lm_score). Every probability
    is the integer ``(10^6·(c2+1)) div (c1+V)`` (V = distinct second
    words; the smoothing is load-bearing — unsmoothed MLE scores
    singleton contexts 1.0) and the mean follows the _avg_expr
    integer-rounding law, so the full 5k-row score frame is
    value-hash-checked against the DuckDB twin."""
    from etl_python_sqlite_spark.operators.curation import bigram_lm_score

    docs = _docs(spark, sf_dir)
    # r12-opt: the (doc, w1, w2) instance frame is the shared stage the
    # whole LM family reads (one tokenization + one explode per session,
    # guide §2.4); the scorer's count tables and scoring join scan it
    return bigram_lm_score(
        docs, grams=_ngram_instances_stage(spark, sf_dir, 2)
    ).orderBy("doc_id")


def ext_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-C2 — DSIR importance weights (hashed-bigram features) of every
    document toward the lexicographically-first source shard as the
    target domain — deterministic, replayed by the oracle with
    ``source = (SELECT min(source) ...)``. Weights are exact micro-unit
    BIGINTs (per-bucket DECIMAL(38) ratio, HUGEINT in DuckDB)."""
    from etl_python_sqlite_spark.operators.curation import dsir_importance

    from etl_python_sqlite_spark.operators.cache import tie

    docs = _docs(spark, sf_dir)
    tgt = docs.join(
        F.broadcast(docs.agg(F.min("source").alias("source"))),
        "source",
        "left_semi",
    )
    # r9: the raw (doc_id, bucket, cnt) roll-up is the memoized stage
    # shared with ext_quality_classifier (identical hash + buckets);
    # the weight frame keepalives it, and the ordered derivation
    # keepalives the weight frame (cache.py composition rule)
    w = dsir_importance(docs, tgt, _counts=_bigram_bucket_stage(spark, sf_dir))
    return tie(w.orderBy("doc_id"), keepalive=[w])


def ext_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-C3 — duplicate-group-coherent train/val/test split: the split
    label depends only on the exact-duplicate GROUP id, so no duplicate
    pair can straddle train and eval (operators/curation). Whole
    assignment frame is oracle-checked; tests additionally pin the
    group-coherence invariant on corpora with known duplicates."""
    from etl_python_sqlite_spark.operators.curation import leakage_free_split

    docs = _docs(spark, sf_dir)
    return leakage_free_split(docs).orderBy("doc_id")


def ext_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-R1 — BM25-saturation top-10 retrieval against the corpus's
    own 3 most frequent words as the probe query (deterministic and
    regeneration-proof). Exact integer scoring end-to-end — rational
    saturation with k1=6/5, b=3/4 cleared of fractions, log-free
    rational idf surrogate — so the DuckDB twin replays every score
    bit-for-bit (operators/retrieval.bm25_topk documents the algebra
    and the int64 bounds)."""
    from etl_python_sqlite_spark.operators.retrieval import bm25_topk

    # r12-opt: explode the session-shared lowercased word-array stage —
    # the word frame feeds four subtrees, each re-ran the tokenize
    return bm25_topk(
        _docs(spark, sf_dir),
        n_probe_terms=3,
        k=10,
        words_arr=_doc_words_stage(spark, sf_dir),
    )


def ext_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-R2 — product-quantization ANN top-20 (operators/pq.py: ADC
    lookup-table scoring over m=8×16 codebooks, exact-cosine re-rank of
    a 64-candidate shortlist), driver-checked through the same
    recall+quality invariant shape as ``ext_ivf_topk``/``ext_ann_topk_lsh``.
    Measured at every SF: recall 10-15/20, quality ratio ≥ 0.87 — the
    self-calibrating floor max(2, ceil(5·k²/n)) (null-model overlap
    derived from n in-query — VERDICT r4 #5) and half-quality bound
    keep ≥2.4× regeneration margin at any corpus size. The best-hit
    columns are SQL-exact (the re-rank uses the portable sequential
    fold)."""
    from etl_python_sqlite_spark.operators.pq import pq_topk

    embs = _embs(spark, sf_dir)
    # r12-opt: shared query-vector collect + exact ground truth (§2.4)
    q, exact = _ann_query_stage(spark, sf_dir)
    corpus = embs.filter(F.col("vec_id") != 0)
    approx = pq_topk(corpus, q, k=20, m=8, ksub=16, rerank=64)
    best = exact.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(1).select(
        F.col("vec_id").alias("best_vec_id"), F.col("cos_sim").alias("best_cos_sim")
    )
    recovered = approx.select("vec_id").join(exact.select("vec_id"), "vec_id")
    qsum_approx = approx.agg(
        F.sum(F.floor(F.col("cos_sim") * 1000000)).cast("long").alias("qa")
    )
    qsum_exact = exact.agg(
        F.sum(F.floor(F.col("cos_sim") * 1000000)).cast("long").alias("qe")
    )
    return (
        corpus.agg(F.count("*").alias("n_vectors"))
        .crossJoin(recovered.agg(F.count("*").cast("long").alias("_nr")))
        .crossJoin(qsum_approx)
        .crossJoin(qsum_exact)
        .crossJoin(best)
        .select(
            "n_vectors",
            # recovered ≥ max(2, ceil(5·k²/n)), derived from n in-query
            (
                (F.col("_nr") >= 2)
                & (F.col("_nr") * F.col("n_vectors") >= 5 * 20 * 20)
            ).alias("recall_ok"),
            (F.col("qa") * 2 >= F.col("qe")).alias("quality_ok"),
            "best_vec_id",
            "best_cos_sim",
        )
    )


def ext_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-P5 — constant-memory Bloom prefilter audit
    (operators/bloom.py). Same ingest framing as
    ``ext_incremental_dedup`` (corpus = doc_id%5 ≤ 2, batch = doc_id%5
    ≥ 2, so the overlap slice is non-empty by construction), but the
    prefilter is a true m=4096-bit k=3 Bloom bitmap instead of the
    exact key set: broadcast size is CONSTANT in corpus cardinality —
    the shape that survives a 10^11-key corpus. One flat audit row:
    key counts, maybe/true-dup/false-positive tallies, and the
    zero-false-negative invariant — every quantity deterministic, so
    the DuckDB twin replays the whole filter bit-for-bit. m is sized
    small on purpose: the corpus must SATURATE enough of the bitmap to
    produce false positives, proving the audit counts collisions
    rather than vacuously passing."""
    from etl_python_sqlite_spark.operators.bloom import bloom_build, bloom_probe
    from etl_python_sqlite_spark.operators.cache import tie

    M, K = 4096, 3
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 5 <= 2).select("text").distinct()
    batch = docs.filter(F.col("doc_id") % 5 >= 2).select("text").distinct()
    # one action materializes the bitmap; the k probe joins then
    # broadcast the tiny materialized RDD instead of re-aggregating the
    # corpus per broadcast (tie releases the blocks on result drop)
    bloom = bloom_build(corpus, "text", M, K).localCheckpoint(eager=True)
    probed = bloom_probe(batch, "text", bloom, M, K)
    marked = probed.join(
        corpus.select("text", F.lit(True).alias("in_corpus")), "text", "left"
    )
    dup = F.coalesce("in_corpus", F.lit(False))
    flag = F.col("bloom_maybe")
    audit = marked.agg(
        F.count("*").cast("long").alias("n_batch_keys"),
        F.sum(F.when(flag, 1).otherwise(0)).cast("long").alias("n_maybe"),
        F.sum(F.when(dup, 1).otherwise(0)).cast("long").alias("n_true_dup"),
        F.sum(F.when(flag & ~dup, 1).otherwise(0))
        .cast("long")
        .alias("n_false_pos"),
        (F.sum(F.when(dup & ~flag, 1).otherwise(0)) == 0).alias(
            "no_false_negatives"
        ),
    )
    out = corpus.agg(F.count("*").cast("long").alias("n_corpus_keys")).crossJoin(
        audit
    )
    return tie(out, bloom)


# ---------------------------------------------------------------------------
# round-5 additions: embedding preprocessing, quality-aware dedup, inter-
# source redundancy
# ---------------------------------------------------------------------------

def ext_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-E6 — per-dimension embedding profile (the normalization /
    whitening prep every vector pipeline runs before indexing: detect
    dead, unbalanced or clipped dimensions). One ``posexplode`` of the
    vector column → ONE map-side-combined groupBy on the uniform
    ``dim`` key (64 groups) — no window, no join, the scan streams.

    Exactness: per-row floor-quantization (x → micro-units, x² →
    nano-units; both engines compute the same IEEE double before the
    floor, per the repo's float discipline), then BIGINT sums — no
    cross-row float accumulation anywhere."""
    embs = _embs(spark, sf_dir)
    dims = embs.select(
        F.posexplode(S._as_double_array("embedding")).alias("dim", "x")
    )
    xq = F.floor(F.col("x") * 1000000).cast("long")
    x2q = F.floor(F.col("x") * F.col("x") * 1000000000).cast("long")
    return (
        dims.groupBy("dim")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(xq).cast("long").alias("sum_x_micro"),
            F.sum(x2q).cast("long").alias("sum_x2_nano"),
            F.min(xq).cast("long").alias("min_x_micro"),
            F.max(xq).cast("long").alias("max_x_micro"),
        )
        .orderBy("dim")
    )


def ext_dedup_survivor_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-D8 — quality-aware canonical selection within duplicate
    groups: instead of keep-min-id, each duplicate group keeps its
    HIGHEST-quality member (ties → lowest doc_id) — the curation policy
    real pipelines want when duplicates differ in boilerplate. The
    group key is the BAG-OF-WORDS signature (md5 of the sorted distinct
    lowercase word set): word-order-insensitive duplicate collapse, the
    fuzzier sibling of exact-normalized dedup that actually fires on
    shuffled/template rewrites (and, unlike the exact key, is non-empty
    at every test SF — 21-257 groups). Quality ranks on
    floor(score·10^6) integers (portable); emits only groups ≥2.

    Shape: one scan → a single window over the uniform hash key (count
    + row_number share ONE shuffle/sort); no self-join, no second
    scan."""
    from pyspark.sql import Window as W

    docs = _docs_spread(spark, sf_dir, ("doc_id", "source", "text"))  # §2.6
    wordset_key = F.md5(
        F.concat_ws(
            "\x1f",
            F.array_sort(F.array_distinct(X.words(F.lower(F.col("text"))))),
        )
    )
    qmicro = F.floor(X.quality_score(F.col("text")) * 1000000).cast("long")
    keyed = docs.select(
        "doc_id",
        "source",
        wordset_key.alias("grp"),
        qmicro.alias("q_micro"),
    )
    w = W.partitionBy("grp")
    ranked = keyed.select(
        "doc_id",
        "source",
        "grp",
        "q_micro",
        F.count("*").over(w).alias("n_dups"),
        F.row_number()
        .over(w.orderBy(F.desc("q_micro"), F.asc("doc_id")))
        .alias("rk"),
    )
    return (
        ranked.filter((F.col("n_dups") >= 2) & (F.col("rk") == 1))
        .select(
            "grp",
            F.col("doc_id").alias("survivor_doc_id"),
            F.col("source").alias("survivor_source"),
            F.col("q_micro").alias("survivor_q_micro"),
            F.col("n_dups").cast("long").alias("n_dups"),
        )
        .orderBy("grp")
    )


def ext_source_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-D9 — inter-source 3-gram redundancy audit (the mixture
    diagnostic run before weighting sources: a source whose shingles
    all appear elsewhere adds little novelty). Per source: distinct
    shingle count, count exclusive to that source, and the exclusivity
    ratio in integer micro-units.

    Shape: shingles via the codegen posexplode+lead path (the HOF
    array builder is interpreted per element — operators/dedup
    .exploded_shingles' measured hazard), then ONE
    ``groupBy(shingle).collect_set(source)`` — partial-aggregated
    map-side, so duplicate (shingle, source) instances collapse before
    the exchange and the shuffle moves ≈ |distinct shingles| rows with
    ≤|sources| entries each — then a |sources|-group rollup of the
    exploded sets. Two shuffles total; the r5 first cut
    (distinct → window-over-shingle → rollup, three shuffles + HOF
    generation) measured 6.9 s at sf0.1, this form ~2.5×
    less. Nothing is ever quadratic."""
    from pyspark.sql import Window as W

    docs = _docs(spark, sf_dir)
    k = 3
    w = W.partitionBy("doc_id").orderBy("pos")
    toks = docs.select(
        "doc_id",
        "source",
        F.posexplode(X.words(F.col("text"))).alias("pos", "w0"),
    )
    cols = [F.col("w0")] + [
        F.lead("w0", i).over(w).alias(f"w{i}") for i in range(1, k)
    ]
    shingled = (
        toks.select("source", F.col("pos"), *cols)
        .select(
            "source",
            "pos",
            F.concat_ws(" ", *[f"w{i}" for i in range(k)]).alias("sh"),
            F.col(f"w{k-1}").isNotNull().alias("_full"),
        )
        .filter(F.col("_full") | (F.col("pos") == 0))
    )
    per_sh = shingled.groupBy("sh").agg(
        F.collect_set("source").alias("srcs")
    )
    return (
        per_sh.select(
            F.explode("srcs").alias("source"),
            (F.size("srcs") == 1).alias("_excl"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("_excl"), 1).otherwise(0))
            .cast("long")
            .alias("n_exclusive"),
        )
        .select(
            "source",
            "n_shingles",
            "n_exclusive",
            F.expr("(1000000 * n_exclusive) div n_shingles").alias(
                "exclusivity_micro"
            ),
        )
        .orderBy("source")
    )


def ext_cms_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-CMS — Count-Min sketch frequency estimation over corpus
    words, checked against exact counts (operators/sketch.py cms_*).

    Pipeline: tokenize → exact word counts (ONE groupBy — doubles as the
    weighted sketch input and the probe truth) → depth×width CMS cells →
    point-query the 15 most frequent words → per-word exact count,
    sketch estimate, and the deterministic one-sided law est ≥ true.

    Width 512 on a ~10^4-word vocabulary GUARANTEES collisions, so the
    estimates genuinely exceed the truth — the sketch is doing its job,
    not memorizing. Every cell is portable-hash integer arithmetic, so
    the DuckDB twin replays the full sketch (build + probe) bit-for-bit:
    this is a sketch whose ENTIRE state is oracle-checked, unlike the
    engine-internal HLL/KLL pair.

    Scale: the token explode + word groupBy is the only corpus-sized
    stage (map-side combined, uniform keys); the sketch is ≤ d·w rows by
    construction at ANY corpus size, broadcast to the probes; the probe
    side is top-k rows. At 100 TB you'd drop the exact-count branch and
    keep the same sketch build (one pass, constant state) — the exact
    branch here is what makes the answer verifiable at SF scale.
    """
    from etl_python_sqlite_spark.operators.sketch import cms_build, cms_estimate

    depth, width, top = 4, 512, 15
    # r12-opt: ride the shared word-array stage (guide §2.4)
    counts = (
        _doc_words_stage(spark, sf_dir)
        .select(F.explode("ws").alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("true_cnt"))
    )
    counts = tie(counts.persist(), counts)
    sketch = cms_build(
        counts, "term", depth=depth, width=width, weight_col="true_cnt"
    )
    probes = counts.orderBy(F.desc("true_cnt"), "term").limit(top)
    est = cms_estimate(sketch, probes, "term", depth=depth, width=width)
    w = Window.orderBy(F.desc("true_cnt"), "term")
    return (
        est.withColumn("rank", F.row_number().over(w).cast("int"))
        .select(
            "rank",
            "term",
            "true_cnt",
            "cms_est",
            (F.col("cms_est") >= F.col("true_cnt")).alias("overestimate_ok"),
        )
        .orderBy("rank")
    )


def ext_vocab_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-EDITDIST — typo-radius pair mining over the corpus
    vocabulary: all distinct word pairs at Levenshtein distance exactly
    1 (length ≥ 3, case-folded), with each word's document frequency —
    the misspelling-discovery / OCR-noise audit of a curation pipeline.

    Blocking is the k=1 PassJoin pigeonhole (operators/editdist.py): a
    single edit leaves one anchored half of the word intact, so
    candidates are equi-join buckets on (role, length, half) — block
    sizes are vocabulary statistics, never corpus-quadratic. Verify is
    a thresholded levenshtein on candidates only.

    The DuckDB twin replays the identical blocking + verify, so the
    result (not just an invariant) is hash-checked; completeness vs
    brute force is pinned separately in tests/test_editdist.py.
    """
    from etl_python_sqlite_spark.operators.editdist import edit_distance_pairs

    parts = load_table(spark, sf_dir, "part")
    # vocabulary = document words ∪ part-name words: the documents side
    # carries the corpus-scale story; the part side (TPC-H's fixed color
    # list) guarantees the query FIRES at every SF (rose/rosy et al.) —
    # the generated document vocabulary is pairwise farther than 1 edit
    # r12-opt: the documents side rides the shared word-array stage
    tokens = _doc_words_stage(spark, sf_dir).select(
        F.explode("ws").alias("w")
    ).unionAll(
        parts.select(F.explode(X.words(F.lower(F.col("p_name")))).alias("w"))
    )
    vocab = tokens.groupBy("w").agg(F.count("*").cast("long").alias("df"))
    pairs = edit_distance_pairs(vocab, "w", min_len=3, carry_cols=["df"])
    return pairs.orderBy("w_a", "w_b")


def ext_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-T7 — Unicode NFC corpus normalization
    (functions/text.nfc_normalize, Arrow-batched pandas_udf over the
    CPython UCD): every document gets a deterministic decomposed /
    composed suffix by doc_id residue (combining acute, Hangul jamo,
    combining ring, a precomposed control), is NFC-normalized, and the
    FULL normalized corpus is value-hash-checked against DuckDB's
    utf8proc ``nfc_normalize`` — exact across engines by the Unicode
    normalization stability policy. Emits char lengths before/after, a
    changed flag and the md5 of the normalized text."""
    from etl_python_sqlite_spark.functions.text import nfc_normalize

    # NOT _docs_spread (r12-s4 negative A/B: 0.53 -> 0.87 s — the
    # Arrow pandas_udf pass loses to the exchange + smaller batches)
    docs = _docs(spark, sf_dir)
    suffix = F.element_at(
        F.array(
            F.lit("e\u0301"),        # e + combining acute -> \u00e9
            F.lit("\u1100\u1161"),   # Hangul jamo L+V     -> \uac00
            F.lit("A\u030a"),        # A + combining ring  -> \u00c5
            F.lit("\u00e9"),         # precomposed \u00e9 (no-op)
        ),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    raw = F.concat(F.col("text"), F.lit(" "), suffix)
    d = docs.select("doc_id", raw.alias("raw"))
    d = d.withColumn("norm", nfc_normalize("raw"))
    return d.select(
        "doc_id",
        F.length("raw").cast("long").alias("len_raw"),
        F.length("norm").cast("long").alias("len_nfc"),
        (F.col("raw") != F.col("norm")).cast("int").alias("changed"),
        F.md5(F.col("norm")).alias("nfc_md5"),
    ).orderBy("doc_id")


#: (applicationId, sf_dir, fingerprint) → the tie()'d span frame shared
#: by ext_repeated_substring_mine and ext_repeated_span_cut (mining is
#: the expensive half of both queries; the two run as concurrent bench
#: actions).
_SPANS = StageMemo()


def _mined_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = stage_key(spark, sf_dir, "documents")
    fp = key[2]  # (path, size, mtime) per file

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        corpus_bytes = sum(e[1] for e in fp if e[1] is not None)
        return D.repeated_span_mine(
            docs, min_len=40, anchor_k=16,
            broadcast_texts=corpus_bytes < 64 * 1024 * 1024,
        )

    return _SPANS.get_or_build(key, build)


def ext_repeated_substring_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT — ExactSubstr-style repeated-substring mining (VERDICT r6
    "What's missing #1"): per document, the exact statistics of its
    MAXIMAL regions covered by duplicated 40-char grams — positions
    whose 40-gram recurs character-exactly anywhere else in the corpus
    (the Lee et al. 2021 suffix-array dedup criterion, computed without
    a suffix array — see operators/dedup.repeated_span_mine for the
    anchor-sieve + verify pipeline and its completeness argument).

    Output per doc with ≥1 duplicated position: duplicated gram-start
    count, number of maximal spans, union-covered chars, longest span.
    All integers — the DuckDB twin brute-forces every 40-gram and must
    agree exactly, which makes the twin a COMPLETENESS oracle: a single
    position missed by the anchor sieve breaks the hash match.
    """
    spans = _mined_spans(spark, sf_dir)
    ln = F.col("span_end") - F.col("span_start")
    out = (
        spans.groupBy("doc_id")
        .agg(
            F.sum("n_positions").cast("long").alias("n_dup_positions"),
            F.count("*").cast("long").alias("n_spans"),
            F.sum(ln).cast("long").alias("covered_chars"),
            F.max(ln).cast("long").alias("max_span_len"),
        )
        .orderBy("doc_id")
    )
    return tie(out, keepalive=[spans])


def ext_repeated_span_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT — the APPLY half of ExactSubstr dedup: excise every maximal
    duplicated ≥40-char span found by ext_repeated_substring_mine and
    value-hash the CLEANED corpus (md5 per cleaned document — both
    engines hash the UTF-8 bytes to the same lowercase hex, so the
    oracle checks the reconstructed text itself, not just its shape).
    Cut-all semantics: reproducible under any partitioning (keeping
    "the first" copy would depend on a doc order no distributed corpus
    has). Documents with no duplicated spans pass through verbatim.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    spans = _mined_spans(spark, sf_dir)
    cut = D.cut_repeated_spans(docs, spans)
    out = cut.select(
        "doc_id",
        F.length("cleaned_text").cast("long").alias("cleaned_len"),
        F.md5("cleaned_text").alias("cleaned_md5"),
        "n_cuts",
        "cut_chars",
    ).orderBy("doc_id")
    return tie(out, keepalive=[spans])


#: (applicationId, sf_dir, fingerprint) → (assignment view, l1 rows):
#: the Lloyd chain shared by ext_kmeans_clusters and
#: ext_kmeans_label_purity (both run it concurrently in the bench).
#: The per-vector assignment is checkpointed once (O(n) rows — the
#: chain's narrowest complete product); the centroid-L1 checksums are
#: k bounded rows collected at build time (literal re-entry class).
_KMEANS = StageMemo()


def _kmeans_stage(spark: SparkSession, sf_dir: str):
    from etl_python_sqlite_spark.operators import clustering as C

    def build():
        flat, cents, final = C._lloyd_chain(
            _embs(spark, sf_dir), 8, 2, "embedding", "vec_id", 8
        )
        ck = final.localCheckpoint(eager=True)
        # k bounded rows — the sanctioned literal-re-entry collect; the
        # cents cache was populated by the checkpoint job above
        l1_rows = tuple(
            sorted(
                (int(r["cid"]), int(r["centroid_l1"]))
                for r in cents.groupBy("cid")
                .agg(F.sum("c").cast("long").alias("centroid_l1"))
                .collect()
            )
        )
        flat.unpersist()
        cents.unpersist()
        # the view carries the finalizer that frees the checkpoint
        # blocks once the memo entry AND every consumer let go
        assign = tie(ck.select("vid", "cid", "dist"), ck)
        return assign, l1_rows

    return _KMEANS.get_or_build(stage_key(spark, sf_dir, "embeddings"), build)


def ext_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT — distributed k-means (2 Lloyd updates, k=8) over the
    embeddings table: the clustering primitive the ANN family samples
    its way around (IVF/SemDeDup assign to SAMPLED centroids once;
    Lloyd refinement is how those centroids get good). Integer-exact by
    construction (non-negative micro-unit quantization, BIGINT
    distances, floor-division centroid means, phash60 seeding, lowest-id
    tie breaks), so the DuckDB oracle replays the ENTIRE algorithm from
    the parquet and the value hash pins every cluster's size, inertia
    and centroid checksum. See operators/clustering.py for the 100 TB
    shape: ONE unrolled lazy action — the corpus is hash-partitioned
    once and never exchanged for distances; per-iteration k·dim
    centroid state rides tiny BROADCAST-joined frames (zero driver
    collects in the chain).
    """
    from etl_python_sqlite_spark.operators.cache import tie

    # shared stage with ext_kmeans_label_purity (the two queries run
    # the identical chain concurrently in the bench): checkpointed
    # per-vector assignments + k collected L1 checksums. n_partitions=8:
    # the embeddings table is vector-count-bounded (2k rows x 64 dims =
    # 128k flat rows at sf0.1 — 32 shuffle partitions would be pure
    # task-scheduling overhead); at data scale callers size the
    # operator's knob to cluster width.
    assign, l1_rows = _kmeans_stage(spark, sf_dir)
    l1 = F.when(F.col("cid") == -1, F.lit(None).cast("long"))
    for cid, s in l1_rows:
        l1 = l1.when(F.col("cid") == cid, F.lit(s))
    out = (
        assign.groupBy("cid")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.col("dist").cast("decimal(38,0)"))
            .cast("long")
            .alias("inertia"),
        )
        .select(
            F.col("cid").alias("cluster"),
            "n_vecs",
            "inertia",
            l1.alias("centroid_l1"),
        )
        .orderBy("cluster")
    )
    return tie(out, keepalive=[assign])


def ext_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2-asymmetric — exact containment self-join with prefix filtering
    (operators/dedup.containment_join_prefix): ordered pairs where ≥80%
    of doc A's 3-word SHINGLE set lives inside doc B (shingles, not word
    tokens — token containment is output-quadratic on template corpora;
    see the operator docstring) — the snippet/excerpt
    subsumption rule Jaccard resemblance can't see. The filter stack is
    EXACT (no false negatives), so the output equals the brute-force
    all-ordered-pairs join the DuckDB oracle computes over the same
    bounded sample (the bound keeps the oracle's quadratic twin cheap;
    the Spark plan is the corpus-scale shape — rare-first probe prefix,
    full-index B side, integer length filter in the join,
    verify-on-candidates-only)."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 400)
    return D.containment_join_prefix(docs, threshold_micro=800_000)


def ext_kmeans_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT — cluster-quality evaluation of the SAME Lloyd run as
    ext_kmeans_clusters: per cluster, the majority ``label`` and the
    integer purity ratio (the standard external-validation readout for
    an unsupervised clustering when a labeled column exists). Majority
    ties break to the LOWEST label (row_number over (count desc,
    label)); purity_micro = (10⁶·top_count) div n_vecs. The DuckDB twin
    replays the full algorithm plus the label join, so the value hash
    re-attests the whole clustering chain through a second independent
    readout."""
    from etl_python_sqlite_spark.operators.cache import tie

    embs = _embs(spark, sf_dir)
    assign, _ = _kmeans_stage(spark, sf_dir)  # shared stage (r8)
    lab = assign.join(
        embs.select(
            F.col("vec_id").cast("long").alias("vid"),
            F.col("label").cast("long").alias("label"),
        ),
        "vid",
    )
    per = lab.groupBy("cid", "label").agg(F.count("*").alias("c"))
    w = Window.partitionBy("cid").orderBy(F.desc("c"), "label")
    tot = per.groupBy("cid").agg(F.sum("c").alias("n_vecs"))
    best = (
        per.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    out = (
        best.join(tot, "cid")
        .select(
            F.col("cid").alias("cluster"),
            F.col("n_vecs").cast("long").alias("n_vecs"),
            F.col("label").alias("top_label"),
            F.col("c").cast("long").alias("top_count"),
            F.expr("(1000000 * c) div n_vecs").alias("purity_micro"),
        )
        .orderBy("cluster")
    )
    return tie(out, keepalive=[assign])


def ext_kmeans_par_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT (r9) — the same 2-iteration Lloyd summary as
    ext_kmeans_clusters, seeded by DETERMINISTIC k-means‖ instead of
    phash60 (operators/clustering.kmeans_parallel_seeds: oversampled
    candidates → nearest-candidate weights → driver-side weighted
    farthest-point re-cluster, Bahmani et al. VLDB 2012). Everything is
    integer-exact and rule-pinned, so the DuckDB twin replays the WHOLE
    pipeline — candidate ranks, weight assignment, all k greedy picks
    (HUGEINT w·dist² scores), then every Lloyd iteration — and the
    value hash pins sizes, inertias and centroid checksums. The two
    extra driver jobs collect O(k·dim) ints (bounded by construction);
    the Lloyd chain itself is the unchanged single-action broadcast
    plan."""
    from etl_python_sqlite_spark.operators.clustering import kmeans_lloyd

    # the unrolled chain plans its tiny fixed-size exchanges STATICALLY
    # (AQE-off clone session — see _aqe_off_session; results identical,
    # AQE never changes semantics): ~20 per-exchange stage
    # materializations collapse into plain stages within one job
    return kmeans_lloyd(
        _embs(_aqe_off_session(spark), sf_dir), k=8, iters=2,
        seeding="parallel", n_partitions=8,
        seeds=_kmeans_par_seeds_stage(spark, sf_dir, k=8),
    )


#: (applicationId, sf_dir, fingerprint, tag) → semantic_centroids
#: output (k (cid, unit-vec) tuples of plain Python floats): the
#: SemDeDup codebook is a DETERMINISTIC pure function of its input
#: frame, and both audit queries were re-running seeding + one Lloyd
#: refinement (a seeds collect + an extra Arrow assignment pass + a
#: refine collect ≈ 1-1.5 s) per invocation. ``tag`` separates the two
#: distinct inputs (the raw embeddings vs the contamination-tagged
#: union — the union is itself a deterministic function of the same
#: table, so the fingerprint key stays valid).
_SEMCENTS = StageMemo(max_entries=4)


def _semantic_centroids_stage(
    spark: SparkSession, sf_dir: str, tag: str, df: DataFrame, **kw
) -> list:
    # the codebook parameters (n_clusters, refine_iters, vec_col, …)
    # are part of the identity — a tag reuse with different params must
    # never alias to a cached codebook (ADVICE r11)
    key = stage_key(
        spark, sf_dir, "embeddings", tag, tuple(sorted(kw.items()))
    )
    return _SEMCENTS.get_or_build(
        key, lambda: S.semantic_centroids(df, **kw)
    )


#: applicationId → a cloned SparkSession with AQE DISABLED, for the
#: unrolled Lloyd chain only (r12-opt session 2, measured interleaved
#: A/B ×2 at sf0.1: 0.92-1.09 s vs 1.33-1.53 s with AQE on). The chain
#: is an iterative plan of tiny fixed-size exchanges (k·dim centroid
#: rows, explicitly-partitioned element rows): AQE has nothing to
#: adapt — sizes are known, the joins are literal broadcasts — and its
#: per-exchange stage materialization adds a driver round-trip whose
#: count grows with ITERATIONS (not with local core count, so the win
#: is not a local[32] artifact). The clone shares SparkContext,
#: cacheManager and catalog; key confs are copied from the parent at
#: clone time (newSession() inherits builder-time conf only).
_AQE_OFF_SESSIONS: dict = {}
_AQE_OFF_LOCK = threading.Lock()


def _aqe_off_session(spark: SparkSession) -> SparkSession:
    key = spark.sparkContext.applicationId
    with _AQE_OFF_LOCK:
        hit = _AQE_OFF_SESSIONS.get(key)
        if hit is not None:
            return hit
        s = spark.newSession()
        for conf in (
            "spark.sql.shuffle.partitions",
            "spark.sql.session.timeZone",
            "spark.sql.python.filterPushdown.enabled",
        ):
            try:
                s.conf.set(conf, spark.conf.get(conf))
            except Exception:
                pass  # unset in the parent: keep the clone's default
        s.conf.set("spark.sql.adaptive.enabled", "false")
        if len(_AQE_OFF_SESSIONS) >= 2:
            _AQE_OFF_SESSIONS.clear()  # dead appIds only; no resources
        _AQE_OFF_SESSIONS[key] = s
        return s


#: (applicationId, sf_dir, fingerprint, k) → kmeans_parallel_seeds
#: output: k (cid, vid, qvec) tuples of plain Python ints — the
#: deterministic k-means‖ seeding is a pure function of the table, and
#: every ext_kmeans_par_seeded invocation was re-running its two
#: bounded corpus passes (~2.2 s warm at sf0.1).
_KMSEEDS = StageMemo()


def _kmeans_par_seeds_stage(spark: SparkSession, sf_dir: str, k: int) -> list:
    from etl_python_sqlite_spark.operators.clustering import (
        kmeans_parallel_seeds,
    )

    return _KMSEEDS.get_or_build(
        stage_key(spark, sf_dir, "embeddings", k),
        lambda: kmeans_parallel_seeds(_embs(spark, sf_dir), k),
    )


#: (applicationId, sf_dir, fingerprint, max_vocab) → collected (word,
#: count) histogram: the ONE distributed pass both tokenizer trainers
#: (BPE and unigram-LM) start from — the bench runs both queries
#: concurrently, and without the memo each would re-run the same
#: explode→groupBy corpus shuffle. Plain Python tuples (≤ max_vocab
#: rows).
_WORDHIST = StageMemo()


def _word_histogram_stage(
    spark: SparkSession, sf_dir: str, max_vocab: int = 8192
) -> list[tuple[str, int]]:
    from etl_python_sqlite_spark.operators.bpe import word_histogram

    return _WORDHIST.get_or_build(
        stage_key(spark, sf_dir, "documents", max_vocab),
        lambda: word_histogram(_docs(spark, sf_dir), max_vocab=max_vocab),
    )


def ext_unigram_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-T2 (r9) — unigram-LM (SentencePiece-style) tokenizer training
    + application (operators/unigram.py, Kudo ACL 2018): the shared
    word-histogram stage (one corpus shuffle, memoized with the BPE
    trainer's) feeds the driver-side integer-exact Viterbi-EM trainer;
    an Arrow-batched encoder then segments every document. The EM loop
    has no SQL twin, so the audit row anchors on SQL-exact counts and
    pins the encoder against arithmetic invariants (the
    ext_bpe_tokenizer pattern):

    * ``n_docs``, ``total_words`` — SQL-exact;
    * ``total_word_chars`` — SQL-exact (Σ length of whitespace-stripped
      text: the per-char segmentation ceiling);
    * ``vocab_ok`` — the trainer respected its budget (≤ vocab_size
      pieces beyond the single-char coverage floor — the final EM
      round deliberately DROPS pruned-in but unused pieces, so the
      size is ≤ budget, not ==) and learned ≥ 1 multi-char piece;
    * ``bounds_ok`` — Σpieces ∈ [Σwords, Σword_chars]: every word is
      ≥ 1 piece and ≤ its character count;
    * ``compression_ok`` — the learned multi-char pieces strictly beat
      the character-level ceiling.

    Trainer ground truth (vs an independent transcription, optimality,
    losslessness, planted corpora) lives in tests/test_unigram.py."""
    from etl_python_sqlite_spark.operators.unigram import (
        unigram_from_histogram,
        unigram_token_counts,
    )

    docs = _docs(spark, sf_dir)
    hist = _word_histogram_stage(spark, sf_dir)
    # Budget DERIVED from the data (the audit-threshold invariant): a
    # fixed vocab_size can be swallowed whole by the single-char
    # coverage floor on a regenerated corpus with a wide alphabet,
    # leaving zero room for multi-char pieces and flipping vocab_ok /
    # compression_ok false. alphabet + 64 guarantees ≥64 slots for
    # multi-char pieces by construction, so the booleans are invariants
    # of the trainer, not of this round's corpus geometry.
    n_alphabet = len({ch for w, _ in hist for ch in w})
    budget = n_alphabet + 64
    vocab = unigram_from_histogram(hist, vocab_size=budget)
    n_singles = sum(1 for p, _ in vocab if len(p) == 1)
    n_multi = len(vocab) - n_singles
    # counts has exactly ONE consumer (the totals aggregate —
    # char_ceiling reads `docs`), so no persist/eager-count (the r8
    # single-consumer rule; a spare count() is one driver job of pure
    # overhead — code-review r9)
    counts = unigram_token_counts(docs, vocab)
    totals = counts.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.sum("n_pieces").cast("long").alias("_pieces"),
    )
    char_ceiling = docs.agg(
        F.sum(
            F.length(
                F.regexp_replace(F.col("text"), "[ \\t\\n\\x0B\\f\\r]", "")
            )
        )
        .cast("long")
        .alias("total_word_chars")
    )
    out = totals.crossJoin(char_ceiling).select(
        "n_docs",
        "total_words",
        "total_word_chars",
        F.lit(
            n_multi >= 1 and len(vocab) <= max(budget, n_singles)
        ).alias("vocab_ok"),
        (
            (F.col("_pieces") >= F.col("total_words"))
            & (F.col("_pieces") <= F.col("total_word_chars"))
        ).alias("bounds_ok"),
        (F.col("_pieces") < F.col("total_word_chars")).alias(
            "compression_ok"
        ),
    )
    return out


def ext_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT (r9) — learned quality classifier, fastText-shape with a
    closed-form multinomial-NB trainer
    (operators/curation.nb_quality_classifier): hashed-bigram features,
    quantized-likelihood-ratio weights (the log-free rational
    surrogate), integer cross-multiplied decisions. Trained here with
    lang='en' as the weak positive label (the CCNet construction:
    label by a known-good slice, score everything); the per-source
    roll-up pins every document's exact score through the value hash.
    The DuckDB twin replays the ENTIRE pipeline — bigram hashing,
    class-conditional counts, HUGEINT weight arithmetic, per-doc
    scores, predictions — from the parquet. Docs with <2 words count
    with n_feat = 0 and pred false (left-join contract), so n_docs is
    the full per-source census. Planted-label precision ground truth
    lives in tests/test_curation.py."""
    from etl_python_sqlite_spark.operators import curation as Cur

    docs = _docs(spark, sf_dir)
    scored = Cur.nb_quality_classifier(
        docs,
        docs.filter(F.col("lang") == "en"),
        _counts=_bigram_bucket_stage(spark, sf_dir),
    )
    out = (
        scored.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("pred_pos").cast("long"))
            .cast("long")
            .alias("n_pred_pos"),
            F.sum("n_feat").cast("long").alias("sum_feat"),
            F.sum("score_micro").cast("long").alias("sum_score_micro"),
        )
        .orderBy("source")
    )
    return tie(out, keepalive=[scored])


def ext_kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT (r9) — KMV/theta-sketch set-overlap audit
    (operators/sketch.kmv_sketches + kmv_pair_overlap): per-source
    256-minimum-value sketches of the DISTINCT lowercased word sets,
    then distinct/union/INTERSECTION estimates for every source pair —
    the cross-slice vocabulary-overlap readout HLL cannot produce
    (union-only). Built entirely on the portable 60-bit hash with
    integer floor-division estimators, so the DuckDB twin replays the
    sketches and every pair estimate BIT-FOR-BIT — the full hash-match
    gate, unlike the engine-internal HLL bytes (rows-only). Sketch
    frames are k·|sources| rows; every pair join broadcasts."""
    from etl_python_sqlite_spark.operators.sketch import (
        kmv_pair_overlap,
        kmv_sketches,
    )

    # NOT on the shared word-array stage (negative A/B, r12 session 2,
    # interleaved ×2: 1.70/1.84 s self-contained vs 1.93/2.01 riding the
    # stage) — the stage lacks `source`, and the (doc_id, source) join
    # to recover it costs more than the tokenize pass it saves.
    wrows = (
        _docs(spark, sf_dir)
        .select(
            "source",
            F.explode(X.words(F.lower(F.col("text")))).alias("w"),
        )
        .filter(F.length("w") > 0)
    )
    # the pair-overlap plan consumes the sketch frame ~5× (group stats,
    # both intersection sides, both union sides) with no exchange reuse
    # between them (measured: 12 FileScans un-persisted) — and those
    # consumers are CONCURRENT AQE stage materializations with no data
    # dependency on each other, exactly the lazy-cache recompute race
    # CLAUDE.md pins (the r8 sequential-consumer relaxation does NOT
    # apply — code-review r9). Eager localCheckpoint: the distinct +
    # window sketch pass runs ONCE, downstream plans scan the
    # materialized RDD, tie() frees the blocks on result drop.
    sk = kmv_sketches(wrows, "source", "w", k=256).localCheckpoint(
        eager=True
    )
    out = kmv_pair_overlap(sk, "source", k=256).orderBy(
        "group_a", "group_b"
    )
    return tie(out, sk)


#: (applicationId, sf_dir, fingerprint, n_buckets) → checkpointed raw
#: (doc_id, bucket, cnt) hashed-bigram roll-up — the stage
#: ext_dsir_importance and ext_quality_classifier share (identical
#: hash, identical buckets; each joins its own class/target flag onto
#: the materialized rows per consumer).
_BIGRAM = StageMemo()


def _bigram_bucket_stage(
    spark: SparkSession, sf_dir: str, n_buckets: int = 1024
) -> DataFrame:
    from etl_python_sqlite_spark.operators.curation import (
        bucketed_bigram_counts,
    )

    def build() -> DataFrame:
        # r12-opt: ride the shared (doc, w1, w2) instance stage — the
        # hash roll-up no longer re-runs the tokenize+explode pass
        ck = bucketed_bigram_counts(
            _docs(spark, sf_dir), n_buckets,
            grams=_ngram_instances_stage(spark, sf_dir, 2),
        ).localCheckpoint(eager=True)
        return tie(ck.select("doc_id", "bucket", "cnt"), ck)

    return _BIGRAM.get_or_build(
        stage_key(spark, sf_dir, "documents", n_buckets), build
    )


# ---------------------------------------------------------------------------
# r10: image perceptual-hash near-dup dedup (VERDICT r9 missing #1)
# ---------------------------------------------------------------------------

#: contract-query image geometry: 18x16 RGB = 864 payload bytes — the
#: dHash grid (8 rows x 9 cols) then lands on exact 2x2 pixel cells, so
#: every cell count is 4 and the DuckDB twin's comparisons reduce to
#: plain integer sum comparisons (the cross-multiplied counts cancel)
_IMG_W, _IMG_H = 18, 16
#: planted-twin id offset (disjoint from every doc_id at any SF)
_IMG_TWIN_OFFSET = 1_000_000_000
#: noisy-twin byte perturbations {byte_index: additive delta mod 256} —
#: chosen to land in three different dHash cells (bits 0, 13/14, 31)
_IMG_NOISE = {5: 128, 200: 64, 431: 200}


def _img_payload(doc_id: int) -> bytes:
    """864 deterministic pseudo-random bytes for a document's synthetic
    image: the md5 chain ``md5(f"{doc_id}:{block}")`` (16 bytes per
    block, 54 blocks) — the same construction the DuckDB twin rebuilds
    with ``CAST('0x' || substr(md5(...), 2t+1, 2) AS INT)``."""
    import hashlib

    n = _IMG_W * _IMG_H * 3
    out = bytearray()
    for block in range((n + 15) // 16):
        out += hashlib.md5(f"{doc_id}:{block}".encode()).digest()
    return bytes(out[:n])


#: (applicationId, sf_dir, fingerprint) → the tie()'d verified image
#: pair frame shared by ext_image_near_dups and
#: ext_image_dedup_clusters: one Arrow decode + dHash pass, checkpointed
#: at the verified pair set (``_pair_stage``), serves both.
_IMGPAIRS = StageMemo()

def _image_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic image corpus of the E12 contract queries: one
    encoded image per document plus the planted twins (see
    ext_image_near_dups docstring for the construction)."""
    import numpy as np
    import pandas as pd

    from etl_python_sqlite_spark.operators import multimodal as M

    docs = _docs_spread(spark, sf_dir, ("doc_id",), key=None)
    encoders = [M.encode_png, M.encode_bmp, M.encode_ppm]

    def _gen(batches):
        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                payload = _img_payload(did)
                px = np.frombuffer(payload, np.uint8).reshape(
                    _IMG_H, _IMG_W, 3
                )
                out.append((did, encoders[did % 3](px)))
                if did % 7 == 0:
                    if did % 14 == 7:  # noisy twin
                        b2 = bytearray(payload)
                        for t, delta in _IMG_NOISE.items():
                            b2[t] = (b2[t] + delta) % 256
                        px2 = np.frombuffer(
                            bytes(b2), np.uint8
                        ).reshape(_IMG_H, _IMG_W, 3)
                    else:  # pristine re-encode twin
                        px2 = px
                    out.append(
                        (
                            did + _IMG_TWIN_OFFSET,
                            encoders[(did + 1) % 3](px2),
                        )
                    )
            yield pd.DataFrame(out, columns=["media_id", "content"])

    return docs.mapInPandas(_gen, schema="media_id long, content binary")


def _image_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_python_sqlite_spark.operators.imagehash import (
        dhash_near_dups,
        image_dhash,
    )

    return _pair_stage(
        _IMGPAIRS, spark, sf_dir,
        lambda: dhash_near_dups(
            image_dhash(_image_media(spark, sf_dir)), max_hamming=6, n_bands=4
        ),
        "hamming",
    )


def ext_image_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2-image (r10) — perceptual-hash near-duplicate detection over a
    REAL encode→decode→dHash→LSH pipeline (operators/imagehash.py):

    * every document becomes one synthetic 18x16 RGB image (md5-chain
      pixels, ``_img_payload``) encoded with a REAL lossless stdlib
      codec — PNG / BMP / PPM by ``doc_id % 3``;
    * every ``doc_id % 7 == 0`` document plants a TWIN image
      (id + 10^9) of the same pixels re-encoded in a DIFFERENT format —
      and the odd half of those (``doc_id % 14 == 7``) additionally
      perturbs three payload bytes (``_IMG_NOISE``), flipping up to 4
      dHash bits: genuine near-duplicates at Hamming > 0;
    * the pipeline decodes with the real decoders, hashes
      (:func:`~etl_python_sqlite_spark.operators.imagehash.dhash60`),
      generates candidates by 4x15-bit Hamming bands and verifies with
      exact ``bit_count(XOR)`` ≤ 6.

    The ENTIRE pair list is value-hash-checked: because every stage
    after the codec round-trip is exact integer arithmetic on the
    payload bytes, the DuckDB twin replays payload → grayscale → grid
    cells → hash bits → band keys → candidate join → Hamming verify
    from ``md5(doc_id||':'||block)`` alone — a hash match therefore
    ALSO proves the PNG/BMP/PPM encode→decode round trips are
    bit-faithful. Recall ground truth on planted resized/re-encoded
    twins lives in tests/test_imagehash.py."""
    pairs = _image_pairs(spark, sf_dir)  # shared stage (with clusters)
    # keepalive: the ordered frame derives from the tie()'d result —
    # dropping `pairs` here would free its checkpoint mid-action
    # (cache.py composition rule)
    return tie(pairs.orderBy("id_a", "id_b"), keepalive=[pairs])


def ext_image_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E12b (r10) — the operational half of image dedup: perceptual
    near-dup pairs → connected components → per-cluster summary (the
    ext_minhash_dedup_clusters shape over the E12 pair stage, shared
    via ``_image_pairs``). The node set — every media id, including
    twins — derives ARITHMETICALLY from doc_ids (no second decode
    pass), and the DuckDB twin rebuilds the identical edge set from
    payload arithmetic and closes it with a recursive CTE, so the
    whole decode→hash→LSH→clustering path is value-hash-checked."""
    docs = _docs(spark, sf_dir).select("doc_id")
    media_ids = docs.select(F.col("doc_id").alias("media_id")).unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + _IMG_TWIN_OFFSET).alias("media_id")
        )
    )
    pairs = _image_pairs(spark, sf_dir)
    return _cluster_summary(media_ids, pairs, id_col="media_id")


# ---------------------------------------------------------------------------
# r10: trigram LM quality score (VERDICT r9 missing #2)
# ---------------------------------------------------------------------------

def ext_trigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-C1b (r10) — higher-order LM quality scoring: the CCNet-shape
    statistic sharpened from bigram to TRIGRAM conditionals
    (operators/curation.trigram_lm_score — real CCNet filters on 5-gram
    KenLM perplexity; each added order materially tightens the quality
    signal on template corpora where bigram transitions are all
    corpus-frequent). Same Laplace integer micro-unit discipline as
    ext_bigram_lm_score: ``p_micro = (10^6·(c3+1)) div (c12+V)`` with
    V = distinct third words, mean by the _avg_expr law — the full
    per-document score frame is value-hash-checked."""
    from etl_python_sqlite_spark.operators.curation import trigram_lm_score

    # r12-opt: instance frame from the shared n-gram stage (guide §2.4)
    return trigram_lm_score(
        _docs(spark, sf_dir),
        grams=_ngram_instances_stage(spark, sf_dir, 3),
    ).orderBy("doc_id")


def ext_fivegram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT-C1c (r11) — the n-gram LM quality ladder closed at the CCNet
    operating point (operators/curation.ngram_lm_score, n=5; real CCNet
    filters on 5-gram KenLM perplexity — VERDICT r10 missing #4). Same
    Laplace integer micro-unit discipline as the bigram/trigram
    scorers; the full per-document score frame is value-hash-checked.
    The per-doc score frame is the memoized ``_fivegram_score_stage``
    shared with ext_ccnet_quality_buckets (one order-5 explode for
    both)."""
    stage = _fivegram_score_stage(spark, sf_dir)
    return tie(stage.orderBy("doc_id"), keepalive=[stage])


# ---------------------------------------------------------------------------
# r10: semantic (embedding-space) contamination scan (VERDICT r9 missing #4)
# ---------------------------------------------------------------------------

#: planted-contamination id offset — 10^9 like every other planted-twin
#: family, so planted ids stay disjoint from real vec_ids at any SF
#: (code-review r10: 10^6 would collide from ~1e6 embeddings up)
_SEMCON_OFFSET = 1_000_000_000


def ext_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT (r10) — benchmark-vs-corpus EMBEDDING-similarity
    contamination scan (operators/similarity.
    semantic_contamination_pairs_from_assignment):
    catches the paraphrased leakage that verbatim/n-gram/span scans
    (ext_substring_contamination, ext_contamination_scan) cannot.
    Benchmark = the ``vec_id % 40 == 7`` slice; corpus = the rest PLUS
    planted paraphrase twins: for every benchmark vector with
    ``vec_id % 80 == 7`` and a nonzero embedding, a corpus vector
    (id + 10^9) equal to 2·v — scalar multiples are the one paraphrase
    surrogate whose recovery is MATHEMATICALLY deterministic, because
    cosine is exactly scale-invariant in IEEE arithmetic (×2 shifts
    exponents only: normalization, dot products and the final division
    are bit-identical, so cos(v, 2v) rounds to exactly 1.0 and both
    vectors land in the SAME cluster under any cosine argmax).

    One-row audit in the established ANN style — every non-boolean is
    SQL-exact and every boolean either replays deterministic arithmetic
    or pins Spark against its own exact ground truth:

    * ``n_benchmark``, ``n_corpus``, ``n_planted`` — SQL-exact counts
      (the nonzero guard is the exact predicate Σ|x| ≠ 0);
    * ``n_sample_pairs`` — exact cross-side fold-cosine ≥ 0.9 count
      among vec_id < 150 (sequential fold + ROUND 6: bit-identical on
      both engines);
    * ``planted_recovered_ok`` — every planted twin pair is reported
      (deterministic by scale invariance, see above — an invariant of
      the arithmetic, not of this round's corpus geometry);
    * ``containment_ok`` / ``cocluster_exhaustive_ok`` — the SemDeDup
      audit booleans on the sample: reported ⊆ exact@θ−ε, and exact@θ+ε
      co-clustered ⇒ reported (ε = 2·10⁻⁶ absorbs the numpy-matmul vs
      fold last-ulp gap)."""
    from etl_python_sqlite_spark.operators.similarity import (
        _as_double_array,
        cosine,
        semantic_assign,
        semantic_contamination_pairs_from_assignment,
    )

    embs = _embs(spark, sf_dir)
    ev = embs.select(
        F.col("vec_id"), _as_double_array("embedding").alias("v")
    )
    bench = ev.filter(F.col("vec_id") % 40 == 7)
    natural = ev.filter(F.col("vec_id") % 40 != 7)
    nonzero = F.aggregate(
        F.col("v"), F.lit(0.0), lambda a, x: a + F.abs(x)
    ) != F.lit(0.0)
    planted = bench.filter((F.col("vec_id") % 80 == 7) & nonzero).select(
        (F.col("vec_id") + _SEMCON_OFFSET).alias("vec_id"),
        F.transform(F.col("v"), lambda x: x * F.lit(2.0)).alias("v"),
    )
    corpus = natural.unionByName(planted)
    union = corpus.withColumn("side", F.lit(0)).unionByName(
        bench.withColumn("side", F.lit(1))
    )
    cents = _semantic_centroids_stage(
        spark, sf_dir, "semcon", union,
        n_clusters=16, refine_iters=1, vec_col="v",
    )
    assigned = semantic_assign(
        union, n_clusters=16, refine_iters=1, vec_col="v", cents=cents
    ).join(union.select("vec_id", "side"), "vec_id").persist()
    pairs = semantic_contamination_pairs_from_assignment(
        assigned, threshold=0.9
    ).persist()
    # ONE eager action warms BOTH caches (r12-opt, the sequential-
    # consumers rule — see ext_semantic_dedup): the pair search scan
    # materializes the assignment persist for the later audit joins.
    pairs.count()

    n_bench = bench.agg(F.count("*").cast("long").alias("n_benchmark"))
    n_corp = corpus.agg(F.count("*").cast("long").alias("n_corpus"))
    planted_keys = planted.select(
        F.col("vec_id").alias("corpus_id"),
        (F.col("vec_id") - _SEMCON_OFFSET).alias("bench_id"),
    ).persist()
    n_planted = planted_keys.agg(
        F.count("*").cast("long").alias("n_planted")
    )
    recovered = planted_keys.join(
        pairs.select("corpus_id", "bench_id"),
        ["corpus_id", "bench_id"],
        "left_anti",
    ).agg((F.count("*") == 0).alias("planted_recovered_ok"))

    # exact cross-side fold-cosine ground truth on the bounded sample.
    # Zero-norm vectors are filtered with the SAME exact Σ|x| ≠ 0
    # predicate as the planted twins: an unguarded cosine on a zero
    # vector is NaN, which Spark/DuckDB comparison semantics would
    # count differently from a numpy replay — the audit booleans must
    # stay invariants of the arithmetic across corpus regenerations.
    sa = natural.filter((F.col("vec_id") < 150) & nonzero).select(
        F.col("vec_id").alias("corpus_id"), F.col("v").alias("va")
    )
    sb = bench.filter((F.col("vec_id") < 150) & nonzero).select(
        F.col("vec_id").alias("bench_id"), F.col("v").alias("vb")
    )
    # ONE scored cross-side sample, three threshold filters (r11-opt:
    # was three separate fold-scan subtrees in the final action's plan)
    scored_sample = (
        sa.join(sb, F.col("corpus_id") != F.col("bench_id"))
        .select(
            "corpus_id",
            "bench_id",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("c"),
        )
        .persist()
    )

    def _sample_pairs(thr):
        return scored_sample.filter(F.col("c") >= thr)

    exact = _sample_pairs(0.9)
    exact_relaxed = _sample_pairs(0.899998)
    exact_strict = _sample_pairs(0.900002)
    n_sample = exact.agg(F.count("*").cast("long").alias("n_sample_pairs"))

    sample_found = pairs.filter(
        (F.col("corpus_id") < 150) & (F.col("bench_id") < 150)
    )
    containment = sample_found.join(
        exact_relaxed.select("corpus_id", "bench_id"),
        ["corpus_id", "bench_id"],
        "left_anti",
    ).agg((F.count("*") == 0).alias("containment_ok"))

    ca = assigned.select(
        F.col("vec_id").alias("corpus_id"), F.col("centroid_id").alias("c_a")
    )
    cb = assigned.select(
        F.col("vec_id").alias("bench_id"), F.col("centroid_id").alias("c_b")
    )
    coclustered = (
        exact_strict.select("corpus_id", "bench_id")
        .join(ca, "corpus_id")
        .join(cb, "bench_id")
        .filter(F.col("c_a") == F.col("c_b"))
    )
    exhaustive = coclustered.join(
        pairs.select("corpus_id", "bench_id"),
        ["corpus_id", "bench_id"],
        "left_anti",
    ).agg((F.count("*") == 0).alias("cocluster_exhaustive_ok"))

    out = (
        n_bench.crossJoin(n_corp)
        .crossJoin(n_planted)
        .crossJoin(n_sample)
        .crossJoin(recovered)
        .crossJoin(containment)
        .crossJoin(exhaustive)
        .select(
            "n_benchmark",
            "n_corpus",
            "n_planted",
            "n_sample_pairs",
            "planted_recovered_ok",
            "containment_ok",
            "cocluster_exhaustive_ok",
        )
    )
    return tie(out, assigned, pairs, planted_keys, scored_sample)


# ---------------------------------------------------------------------------
# r10: audio perceptual-hash near-dup dedup (E15 — the audio sibling of E12)
# ---------------------------------------------------------------------------

#: contract-query audio geometry: 488 frames = 61 segments x 8 frames,
#: so every segment count is 8 and the DuckDB twin's cross-multiplied
#: mean comparisons reduce to plain energy-sum comparisons
_AUD_FRAMES = 488
#: planted-twin id offset (disjoint from every doc_id at any SF)
_AUD_TWIN_OFFSET = 1_000_000_000
#: noisy-twin sample perturbation {frame_index: additive byte delta}
#: — ONE touched segment => at most 2 flipped bits, inside the banding
#: completeness guarantee (Hamming < 4 always caught)
_AUD_NOISE = {255: 96}


def _aud_samples(doc_id: int) -> "list[int]":
    """488 deterministic int16 samples for a document's synthetic
    audio: byte t of the md5 chain ``md5(f"{doc_id}:{block}")`` minus
    128 — the construction the DuckDB twin rebuilds arithmetically."""
    import hashlib

    out = bytearray()
    for block in range((_AUD_FRAMES + 15) // 16):
        out += hashlib.md5(f"{doc_id}:{block}".encode()).digest()
    return [b - 128 for b in out[:_AUD_FRAMES]]


def ext_audio_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15 (r10) — perceptual near-duplicate detection for AUDIO over a
    real encode→decode→hash→LSH pipeline (operators/audiohash.py):

    * every document becomes one synthetic 488-frame int16 WAV
      (md5-chain samples, ``_aud_samples``) through the REAL stdlib
      ``wave`` writer;
    * every ``doc_id % 5 == 0`` document plants a TWIN (id + 10^9):
      the even half (``% 10 == 0``) VOLUME-DOUBLED — the energy hash
      is exactly invariant under amplitude scaling (every
      cross-multiplied segment comparison is unchanged), so these
      verify at Hamming 0 deterministically; the odd half
      (``% 10 == 5``) perturbs ONE sample (``_AUD_NOISE``), flipping
      ≤2 bits — inside the 4-band completeness guarantee, so noisy
      twins are ALWAYS candidates too;
    * the pipeline decodes with the real WAV parser, hashes the energy
      envelope (61 segments × 8 frames), bands 4×15 bits, verifies
      ``bit_count(XOR)`` ≤ 6.

    The ENTIRE pair list is value-hash-checked — the DuckDB twin
    replays samples → |energy| segment sums → 60 comparison bits →
    band keys → candidate join → Hamming verify from
    ``md5(doc_id||':'||block)`` arithmetic alone, which ALSO certifies
    the WAV write→read round trip bit-faithful. The pair pipeline is
    the memoized stage shared with ext_audio_dedup_clusters
    (``_audio_pairs``). Operator ground truth (volume/edit invariances,
    reject routing) lives in tests/test_audiohash.py."""
    pairs = _audio_pairs(spark, sf_dir)
    # keepalive: ordered frame derives from the tie()'d result
    # (cache.py composition rule)
    return tie(pairs.orderBy("id_a", "id_b"), keepalive=[pairs])


def _audio_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic audio corpus of the E15 contract queries: one
    488-frame WAV per document plus the planted volume-doubled/noisy
    twins (see ext_audio_near_dups docstring)."""
    import numpy as np
    import pandas as pd

    from etl_python_sqlite_spark.operators import multimodal as M

    docs = _docs_spread(spark, sf_dir, ("doc_id",), key=None)

    def _gen(batches):
        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                s = _aud_samples(did)
                out.append(
                    (did, M.encode_wav(np.array(s, np.int16), 8000))
                )
                if did % 5 == 0:
                    if did % 10 == 5:  # noisy twin: one-sample edit
                        s2 = list(s)
                        for t, delta in _AUD_NOISE.items():
                            s2[t] = (s2[t] + 128 + delta) % 256 - 128
                    else:  # volume-doubled twin: hash-invariant
                        s2 = [2 * x for x in s]
                    out.append(
                        (
                            did + _AUD_TWIN_OFFSET,
                            M.encode_wav(np.array(s2, np.int16), 8000),
                        )
                    )
            yield pd.DataFrame(out, columns=["media_id", "content"])

    return docs.mapInPandas(_gen, schema="media_id long, content binary")


#: (applicationId, sf_dir, fingerprint) → the tie()'d verified audio
#: pair frame shared by ext_audio_near_dups and
#: ext_audio_dedup_clusters — the `_image_pairs` policy.
_AUDPAIRS = StageMemo()


def _audio_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_python_sqlite_spark.operators.audiohash import (
        audio_energy_hash,
        audio_near_dups,
    )

    return _pair_stage(
        _AUDPAIRS, spark, sf_dir,
        lambda: audio_near_dups(
            audio_energy_hash(_audio_media(spark, sf_dir)),
            max_hamming=6,
            n_bands=4,
        ),
        "hamming",
    )


def ext_audio_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15b (r11) — the operational half of audio dedup: perceptual
    near-dup pairs → connected components → per-cluster summary,
    completing the modality × (pairs, clusters) matrix (images E12b,
    video E16c). Node set derives arithmetically from doc_ids (no
    second decode pass); the DuckDB twin rebuilds the identical edge
    set from md5 sample arithmetic and closes it recursively."""
    docs = _docs(spark, sf_dir).select("doc_id")
    media_ids = docs.select(F.col("doc_id").alias("media_id")).unionByName(
        docs.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + _AUD_TWIN_OFFSET).alias("media_id")
        )
    )
    pairs = _audio_pairs(spark, sf_dir)
    return _cluster_summary(media_ids, pairs, id_col="media_id")


# ---------------------------------------------------------------------------
# r10: video near-dup dedup (E16 — frame-fingerprint overlap)
# ---------------------------------------------------------------------------

#: frames per synthetic video (twin kinds below keep >=3 shared)
_VID_FRAMES = 4
_VID_TWIN_OFFSET = 1_000_000_000


def _vid_frame_payload(doc_id: int, f: int) -> bytes:
    """864 deterministic bytes for frame ``f`` of a document's
    synthetic video — the md5 chain keyed ``{doc_id}:f{f}:{block}``
    (the image construction with a per-frame namespace)."""
    import hashlib

    n = _IMG_W * _IMG_H * 3
    out = bytearray()
    for block in range((n + 15) // 16):
        out += hashlib.md5(f"{doc_id}:f{f}:{block}".encode()).digest()
    return bytes(out[:n])


def _video_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic video corpus of the E16 contract queries: one
    4-frame concatenated-BMP video per document plus the planted
    reorder/truncate twins (see ext_video_near_dups docstring)."""
    import numpy as np
    import pandas as pd

    from etl_python_sqlite_spark.operators import multimodal as M

    docs = _docs_spread(spark, sf_dir, ("doc_id",), key=None)

    def _gen(batches):
        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                frames = [
                    np.frombuffer(
                        _vid_frame_payload(did, f), np.uint8
                    ).reshape(_IMG_H, _IMG_W, 3)
                    for f in range(_VID_FRAMES)
                ]
                out.append((did, M.encode_bmv(frames)))
                if did % 6 == 0:
                    if did % 12 == 6:  # truncated twin: drop last frame
                        tf = frames[:-1]
                    else:  # reordered twin: same fingerprint set
                        tf = frames[::-1]
                    out.append((did + _VID_TWIN_OFFSET, M.encode_bmv(tf)))
            yield pd.DataFrame(out, columns=["media_id", "content"])

    return docs.mapInPandas(_gen, schema="media_id long, content binary")


#: (applicationId, sf_dir, fingerprint) → the verified video pair frame
#: shared by ext_video_near_dups and ext_video_dedup_clusters — the
#: `_image_pairs` policy with the checkpoint taken at the PAIR set (the
#: narrowest stage: one Arrow decode pass serves both queries and the
#: CC rounds scan the materialized RDD; the pair frame is O(n_twins)
#: rows).
_VIDPAIRS = StageMemo()


def _video_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_python_sqlite_spark.operators.videohash import (
        video_frame_hashes,
        video_near_dups,
    )

    return _pair_stage(
        _VIDPAIRS, spark, sf_dir,
        lambda: video_near_dups(
            video_frame_hashes(_video_media(spark, sf_dir), every_n=1),
            min_shared=2,
        ),
        "n_shared",
    )


def ext_video_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16 (r10) — video near-duplicate detection by frame-fingerprint
    overlap (operators/videohash.py): every document becomes a 4-frame
    concatenated-BMP video (md5-chain pixels per frame), each frame is
    dHash-fingerprinted through the REAL container split + BMP decode,
    and two videos pair when they share ≥2 distinct fingerprints.

    Planted twins (``doc_id % 6 == 0``, id + 10^9): the even half
    (``% 12 == 0``) REVERSES the frame order — the fingerprint SET is
    unchanged, so the pair reports n_shared = 4 deterministically (the
    set semantics the operator promises); the odd half (``% 12 == 6``)
    DROPS the last frame — n_shared = 3 exactly. The DuckDB twin
    replays frame payload → grid cells → dHash bits → distinct-
    fingerprint pair join from md5 arithmetic alone, so the value-hash
    match again certifies the BMV split + BMP decode bit-faithful.
    The pair pipeline is the memoized stage shared with
    ext_video_dedup_clusters (``_video_pairs``). Operator ground truth
    (reorder/truncate/re-encode recall, reject routing, the
    hot-fingerprint df cap) lives in tests/test_videohash.py."""
    pairs = _video_pairs(spark, sf_dir)
    return tie(pairs.orderBy("id_a", "id_b"), keepalive=[pairs])


def ext_video_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16c (r11) — the operational half of video dedup: frame-overlap
    pairs → connected components → per-cluster summary (the E12b shape
    over the E16 pair stage, shared via ``_video_pairs`` — near-dup
    GROUPS, not pairs, are what a curation pipeline consumes when it
    picks one survivor per duplicate set). The node set — every video
    id, including twins — derives ARITHMETICALLY from doc_ids (no
    second decode pass), and the DuckDB twin rebuilds the identical
    edge set from payload arithmetic and closes it with a recursive
    CTE, so the whole split→decode→hash→pair→clustering path is
    value-hash-checked."""
    docs = _docs(spark, sf_dir).select("doc_id")
    media_ids = docs.select(F.col("doc_id").alias("media_id")).unionByName(
        docs.filter(F.col("doc_id") % 6 == 0).select(
            (F.col("doc_id") + _VID_TWIN_OFFSET).alias("media_id")
        )
    )
    pairs = _video_pairs(spark, sf_dir)
    return _cluster_summary(media_ids, pairs, id_col="media_id")


def ext_video_noisy_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E16b (r11) — LOSSY-re-encode-robust video near-dup detection
    (operators/videohash.video_near_dups_hamming; VERDICT r10 #2): the
    exact-identity pairing of :func:`ext_video_near_dups` is blind to a
    twin whose every frame drifts a few dHash bits, so each frame
    fingerprint is banded with the image 4×15-bit machinery, candidates
    verify with exact ``bit_count(XOR) ≤ 6``, and ``n_shared`` counts
    distinct matched fingerprint pairs.

    Planted twins (``doc_id % 6 == 0``, id + 10^9): every frame's
    payload is perturbed at the ``_IMG_NOISE`` byte positions — the
    flipped dHash bits (0, 13/14, 31) land only in bands 0 and 2, so
    banding catches every twin DETERMINISTICALLY (two untouched bands)
    at Hamming ≤ 4 per frame, and the pair reports n_shared = 4. The
    twins share ZERO exact fingerprints whenever any bit actually
    flips, which is exactly the regime the exact operator misses. The
    DuckDB twin replays payload+noise → cells → bits → band join →
    XOR-popcount verify → distinct matched-pair count from md5
    arithmetic alone. Operator ground truth (measured per-frame drift,
    degeneration to exact at Hamming 0, the hot-fingerprint df cap)
    lives in tests/test_videohash.py."""
    import numpy as np
    import pandas as pd

    from etl_python_sqlite_spark.operators import multimodal as M
    from etl_python_sqlite_spark.operators.videohash import (
        video_frame_hashes,
        video_near_dups_hamming,
    )

    docs = _docs_spread(spark, sf_dir, ("doc_id",), key=None)

    def _gen(batches):
        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                frames = [
                    np.frombuffer(
                        _vid_frame_payload(did, f), np.uint8
                    ).reshape(_IMG_H, _IMG_W, 3)
                    for f in range(_VID_FRAMES)
                ]
                out.append((did, M.encode_bmv(frames)))
                if did % 6 == 0:
                    noisy = []
                    for fr in frames:
                        b2 = bytearray(fr.tobytes())
                        for t, delta in _IMG_NOISE.items():
                            b2[t] = (b2[t] + delta) % 256
                        noisy.append(
                            np.frombuffer(bytes(b2), np.uint8).reshape(
                                _IMG_H, _IMG_W, 3
                            )
                        )
                    out.append(
                        (did + _VID_TWIN_OFFSET, M.encode_bmv(noisy))
                    )
            yield pd.DataFrame(out, columns=["media_id", "content"])

    media = docs.mapInPandas(_gen, schema="media_id long, content binary")
    pairs = video_near_dups_hamming(
        video_frame_hashes(media, every_n=1), max_hamming=6, min_shared=2
    )
    return tie(pairs.orderBy("id_a", "id_b"), keepalive=[pairs])


# ---------------------------------------------------------------------------
# r11: cross-modal (caption <-> image) consistency filter (E17)
# ---------------------------------------------------------------------------

def ext_crossmodal_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E17 (r11) — the CLIP-score-shaped caption↔image consistency gate
    every multimodal training pipeline runs (VERDICT r10 #6): score
    each (caption embedding, image embedding) pair by exact cosine and
    keep pairs above a threshold.

    Paired-embedding construction over the embeddings table (the E14
    scalar-twin trick, deterministic across corpus regenerations):

    * the caption embedding is the row vector ``v`` (float32 parquet
      widened to double — exact);
    * the MATCHED image embedding (``vec_id % 4 == 0``) is ``2·v`` —
      IEEE scaling is exponent-only, so the fold-cosine rounds to
      exactly 1.0 and the pair is kept deterministically;
    * the MISMATCHED image embedding (every other row) is
      ``reverse(v)`` — pure element re-ordering, so the score is
      whatever the arithmetic says (typically far below threshold on a
      random-ish vector) and BOTH engines replay it bit-for-bit
      (sequential fold ↔ ``list_reduce``, the per-row float-fold
      invariant).

    Zero-norm embeddings are excluded with the exact Σ|x| ≠ 0
    predicate (an unguarded cosine is NaN — the E14 zero-norm rule).
    Per-row fold cosines are the brute-force ``cosine_topk`` cost
    class: one O(dim) pass per row, no joins, no shuffle beyond the
    final sort — at 100 TB this is a map-only filter."""
    from etl_python_sqlite_spark.operators.similarity import (
        _as_double_array,
        cosine,
    )

    ev = _embs(spark, sf_dir).select(
        F.col("vec_id"), _as_double_array("embedding").alias("v")
    )
    nonzero = F.aggregate(
        F.col("v"), F.lit(0.0), lambda a, x: a + F.abs(x)
    ) != F.lit(0.0)
    img = F.when(
        F.col("vec_id") % 4 == 0,
        F.transform(F.col("v"), lambda x: x * F.lit(2.0)),
    ).otherwise(F.reverse(F.col("v")))
    return (
        ev.filter(nonzero)
        .select(
            F.col("vec_id").alias("item_id"),
            F.round(cosine(F.col("v"), img), 6).alias("clip_score"),
        )
        .select(
            "item_id",
            "clip_score",
            (F.col("clip_score") >= 0.35).alias("kept"),
        )
        .orderBy("item_id")
    )


# ---------------------------------------------------------------------------
# r11: WebDataset pack -> read round trip (the packaging attestation)
# ---------------------------------------------------------------------------

#: age floor for the cross-session /tmp scratch sweep — dirs younger
#: than this are plausibly a CONCURRENT session's live scratch
_WDS_ORPHAN_AGE_SEC = 2 * 3600


def _sweep_stale_scratch(pattern: str, keep: str) -> None:
    """Delete dead sessions' ``/tmp`` scratch dirs matching ``pattern``
    (their tags embed a dead applicationId, so no later run ever
    re-keys them) — mtime older than the age floor only, never the
    current run's ``keep`` dir."""
    import glob as _glob
    import os
    import shutil
    import time

    cutoff = time.time() - _WDS_ORPHAN_AGE_SEC
    for d in _glob.glob(pattern):
        if d == keep:
            continue
        try:
            if os.path.getmtime(d) < cutoff:
                shutil.rmtree(d, ignore_errors=True)
        except OSError:
            pass  # raced with a concurrent sweep


def _sweep_stale_wds_scratch(keep: str) -> None:
    """WebDataset flavor of the scratch sweep (kept as the named entry
    point tests/test_jsonl_shards.py pins)."""
    _sweep_stale_scratch("/tmp/spark_graft_wds_*", keep=keep)


def ext_webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-pack (r11) — the full-pipeline PACKAGING attestation, the
    codec-certification trick applied to shards: every document is
    packed into WebDataset tar shards (operators/shards —
    two-phase-commit writer) and read back through the one-task-per-
    shard reader (sources/webdataset), emitting (doc_id, md5, bytes)
    of the recovered member. The DuckDB twin computes the same md5
    straight off the documents table, so a value-hash match certifies
    the tar write→read round trip byte-faithful — the oracle never
    opens a tar.

    The scratch dir is keyed on (applicationId, sf, data fingerprint)
    under /tmp and rewritten per run (deterministic content; no
    cross-session races). Because the tag embeds the applicationId, a
    DEAD session's dirs are never re-keyed — each run sweeps sibling
    ``spark_graft_wds_*`` dirs older than the age floor (a FRESH
    foreign dir is plausibly a concurrent session's live scratch and
    survives). Scale note: the pack is the
    writer's range-shuffle + streaming tar emit, the read is one task
    per shard — both linear, no collects beyond the writer's bounded
    commit 3-tuples."""
    import hashlib
    import shutil

    from etl_python_sqlite_spark.operators.shards import (
        write_webdataset_shards,
    )
    from etl_python_sqlite_spark.sources.parquet import data_fingerprint
    from etl_python_sqlite_spark.sources.webdataset import read_webdataset

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    fp = data_fingerprint(spark, sf_dir, "documents")
    tag = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}:{fp}".encode()
    ).hexdigest()[:12]
    out = f"/tmp/spark_graft_wds_{tag}"
    _sweep_stale_wds_scratch(keep=out)
    shutil.rmtree(out, ignore_errors=True)
    write_webdataset_shards(
        docs, out, key_col="doc_id", members={"txt": "text"}, num_shards=4
    )
    back = read_webdataset(spark, out, members=["txt"])
    return back.select(
        F.col("key").cast("long").alias("doc_id"),
        F.md5(F.col("txt")).alias("text_md5"),
        F.length(F.col("txt")).cast("long").alias("n_bytes"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# r11b: passage-level exact dedup (RefinedWeb/C4 line-dedup analogue)
# ---------------------------------------------------------------------------

def ext_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E18 (r11) — corpus-global PASSAGE-level exact dedup with
    document reassembly (operators/dedup.passage_dedup): the
    sub-document dedup step every RefinedWeb/C4-shaped pipeline runs
    between exact-doc and near-dup dedup. Fixed 20-word passages
    (this corpus has no newline structure), first-writer-wins on the
    corpus-minimum (doc_id, pos), survivors reassembled in position
    order and md5-fingerprinted — the full per-document frame is
    value-hash-checked, so the oracle certifies the REASSEMBLED TEXT,
    not just counts."""
    from etl_python_sqlite_spark.operators.dedup import passage_dedup

    # keepalive: passage_dedup returns a tie()'d frame whose finalizer
    # unpersists the shared instance explode — deriving orderBy and
    # dropping the original would fire it before the action (the
    # cache.py composition rule)
    pd = passage_dedup(_docs(spark, sf_dir), window_words=20)
    return tie(pd.orderBy("doc_id"), keepalive=[pd])


def ext_ccnet_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19 (r11) — CCNet head/middle/tail quality bucketing (Wenzek et
    al., *CCNet: Extracting High Quality Monolingual Datasets from Web
    Crawl Data*, LREC 2020 §3.3): per LANGUAGE, rank documents by LM
    quality score and cut the ranking into terciles — head = most
    probable (lowest perplexity). Composes the 5-gram LM scorer
    (operators/curation.ngram_lm_score, the CCNet operating point) with
    the corpus lang column.

    Determinism: the ranking key is the TOTAL order (mean_p DESC,
    doc_id ASC) — mean_p is the micro-unit-quantized integer-rounding
    mean, exact on both engines, and two distinct 6-digit decimals stay
    distinct (and ordered) as doubles, so the DuckDB replay ranks
    identically. bucket = ((rn−1)·3) div n — pure integer arithmetic,
    no NTILE engine-semantics dependence. Output is integer-only
    (counts + BIGINT checksums); no float mean crosses engines.

    Scale note: row_number over (lang) is one sort per language — fine
    while a language fits a task's spill budget; a two-level histogram
    rank-select is the upgrade path (same statistic: mean_p is already
    quantized), per the measured "naive window wins at sf0.1" A/B. The per-doc score frame
    is the memoized ``_fivegram_score_stage`` shared with
    ext_fivegram_lm_score (one order-5 explode for both)."""
    docs = _docs(spark, sf_dir)
    scored = _fivegram_score_stage(spark, sf_dir)
    j = scored.join(docs.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.desc("mean_p"), F.asc("doc_id")
    )
    ranked = j.select(
        "doc_id",
        "lang",
        "n_ngrams",
        "sum_p_micro",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("lang")).alias("n"),
    )
    out = (
        ranked.select(
            "lang",
            F.element_at(
                F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
                F.expr("CAST(((rn - 1) * 3) DIV n AS INT) + 1"),
            ).alias("bucket"),
            "doc_id",
            "n_ngrams",
            "sum_p_micro",
        )
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
            F.sum("n_ngrams").cast("long").alias("sum_n_ngrams"),
            F.sum("sum_p_micro").cast("long").alias("sum_p_total"),
        )
        .orderBy("lang", "bucket")
    )
    return tie(out, keepalive=[scored])



def ext_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-orc (r11) — columnar-format round-trip attestation for ORC,
    the second Spark-native columnar format a lakehouse migration
    meets (Spark ships the reader/writer; no extra jars): the full
    documents table is written to ORC (zlib, Spark default) and read
    back, emitting one md5 row per document over EVERY column. The
    DuckDB twin computes the same md5 straight off the parquet table,
    so a value-hash match certifies the ORC write→read path faithful
    for int64/string columns without the oracle reading ORC (the
    WebDataset/codec certification trick).

    Scratch lifecycle = the WebDataset rule: dir keyed on
    (applicationId, sf, data fingerprint) under /tmp, rewritten per
    run, dead siblings swept past the age floor. Scale note: both
    sides are one map-only pass; the write is embarrassingly parallel
    (one ORC file per input split)."""
    import hashlib
    import shutil

    from etl_python_sqlite_spark.sources.parquet import data_fingerprint

    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    fp = data_fingerprint(spark, sf_dir, "documents")
    tag = hashlib.md5(
        f"{spark.sparkContext.applicationId}:{sf_dir}:{fp}".encode()
    ).hexdigest()[:12]
    out = f"/tmp/spark_graft_orc_{tag}"
    _sweep_stale_scratch("/tmp/spark_graft_orc_*", keep=out)
    shutil.rmtree(out, ignore_errors=True)
    docs.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(
            F.concat_ws(
                "\x1f",
                F.col("text"),
                F.col("lang"),
                F.col("source"),
                F.col("n_chars").cast("string"),
            )
        ).alias("row_md5"),
        F.col("n_chars").cast("long").alias("n_chars"),
    ).orderBy("doc_id")


#: mean-ratio decision thresholds for the calibration sweep, in
#: micro-units (pred ⇔ score_micro > n_feat·thr — the integer
#: cross-multiplication rule; 10^6 = the classifier's native boundary)
_CALIB_THRESHOLDS_MICRO = (
    500_000, 750_000, 1_000_000, 1_250_000, 1_500_000, 2_000_000,
)


def ext_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10b (r11) — decision-threshold CALIBRATION sweep for the NB
    quality classifier: the precision/recall-vs-threshold table every
    production curation pipeline derives before picking its operating
    point (fastText/CCNet practice: sweep the score cut, choose by
    target purity). One row per threshold with the exact confusion
    counts against the lang='en' weak label (the TRAINING label — this
    is a training-fit calibration table, the honest framing; held-out
    evaluation lives in tests/test_curation.py's planted-label
    ground truth).

    Decision stays integer cross-multiplication at every threshold:
    pred ⇔ score_micro > n_feat·thr_micro (never divide). Docs with
    n_feat = 0 score 0 and predict negative at every threshold (the
    left-join census contract). Rides the memoized hashed-bigram
    roll-up shared with ext_quality_classifier / ext_dsir_importance —
    at bench time the corpus explode runs once for all three.

    Scale: the sweep multiplies rows by |thresholds| = 6 AFTER the
    per-doc score frame is reduced (one row per doc) — a map-side
    explode into a 6-group aggregation, no new corpus pass."""
    from etl_python_sqlite_spark.operators import curation as Cur

    docs = _docs(spark, sf_dir)
    scored = Cur.nb_quality_classifier(
        docs,
        docs.filter(F.col("lang") == "en"),
        _counts=_bigram_bucket_stage(spark, sf_dir),
    )
    j = scored.join(docs.select("doc_id", "lang"), "doc_id").select(
        "n_feat",
        "score_micro",
        (F.col("lang") == "en").alias("is_en"),
        F.explode(
            F.array(*[F.lit(t) for t in _CALIB_THRESHOLDS_MICRO])
        ).alias("thr_micro"),
    )
    pred = F.col("score_micro") > F.col("n_feat") * F.col("thr_micro")
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    out = (
        j.groupBy("thr_micro")
        .agg(
            flag(pred & F.col("is_en")).alias("tp"),
            flag(pred & ~F.col("is_en")).alias("fp"),
            flag(~pred & F.col("is_en")).alias("fn"),
            flag(~pred & ~F.col("is_en")).alias("tn"),
        )
        .orderBy("thr_micro")
    )
    # keepalive: `scored` is this query's only handle on the memoized
    # checkpoint-backed bigram stage (the consumer-keepalive rule its
    # classifier/DSIR siblings follow)
    return tie(out, keepalive=[scored])


def ext_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21 (r11) — content-addressed SNAPSHOT DIFF between two corpus
    versions: the added/removed/changed/unchanged census a recurring
    crawl pipeline computes before incremental processing (what changed
    since the last snapshot decides what re-enters dedup/scoring). The
    two snapshots are derived deterministically from the one corpus so
    both engines construct identical inputs:

    * PREVIOUS = docs with ``doc_id % 5 != 0`` (text suffixed
      ``' legacy'`` when ``doc_id % 7 == 0`` — the edited-page slice)
      ∪ docs with ``doc_id % 11 == 3`` re-keyed ``+10^9`` (pages that
      vanished from the current crawl);
    * CURRENT = the corpus as-is.

    Diff = full outer join on doc_id comparing md5(text):
    added (current only), removed (previous only), changed (both, hash
    differs), unchanged. Output per status: count + BIGINT id/char
    checksums — integer-only, membership-certifying.

    Scale: one full outer join on the uniform doc_id key (the standard
    CDC diff — shuffle both sides once, AQE handles it; bucketed
    snapshots would make it exchange-free, the documented upgrade);
    hashes are computed map-side, never the texts shipped twice. The
    diff itself is operators/snapshot.snapshot_diff — the same engine
    behind snapshot_diff_orders, probed here on content hashes."""
    from etl_python_sqlite_spark.operators.snapshot import snapshot_diff

    docs = _docs(spark, sf_dir).select("doc_id", "text", "n_chars")
    prev = (
        docs.filter(F.col("doc_id") % 5 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.col("text"), F.lit(" legacy")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 11 == 3).select(
                (F.col("doc_id") + F.lit(1_000_000_000)).alias("doc_id"),
                "text",
            )
        )
        .select("doc_id", F.md5("text").alias("h"))
    )
    cur = docs.select("doc_id", F.md5("text").alias("h"))
    diff = snapshot_diff(prev, cur, keys=["doc_id"], compare_cols=["h"])
    return (
        diff.join(
            docs.select("doc_id", "n_chars"), "doc_id", "left"
        )
        .select(
            "status",
            "doc_id",
            F.coalesce("n_chars", F.lit(0)).alias("nc"),
        )
        .groupBy("status")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
            F.sum("nc").cast("long").alias("sum_n_chars"),
        )
        .orderBy("status")
    )


#: (applicationId, sf_dir, fingerprint) → the checkpointed per-doc
#: 5-gram LM score frame shared by ext_fivegram_lm_score and
#: ext_ccnet_quality_buckets — the order-5 explode + count joins are
#: the expensive half of BOTH queries and are identical; each consumer
#: re-runs only its own cheap tail (a sort / a per-language rank).
#: The bench runs both consumers CONCURRENTLY, so the checkpoint is
#: eager.
_FIVEGRAM = StageMemo()


def _fivegram_score_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_python_sqlite_spark.operators.curation import ngram_lm_score

    def build() -> DataFrame:
        # r12-opt: the order-5 explode reads the shared word-array stage
        # instead of re-tokenizing (guide §2.4)
        ck = ngram_lm_score(
            _doc_words_stage(spark, sf_dir), n=5, words_col="ws"
        ).localCheckpoint(eager=True)
        return tie(
            ck.select("doc_id", "n_ngrams", "sum_p_micro", "mean_p"), ck
        )

    return _FIVEGRAM.get_or_build(stage_key(spark, sf_dir, "documents"), build)


#: (applicationId, sf_dir, fingerprint) → persisted (doc_id, ws)
#: word-array frame: the ONE lower+regexp tokenization pass the whole
#: LM family (orders 2/3/5) and the hashed-bigram roll-up start from.
#: r12-opt (VERDICT r11 next #2): each scorer re-ran the identical
#: split per invocation; now every order's instance build scans this
#: one cached stage (guide §2.4 — cross-QUERY stage sharing, the
#: `_ordpart_distinct` pattern). Eager count: bench consumers are
#: concurrent.
_WORDS_STAGE = StageMemo(free=unpersist_entry)

#: (applicationId, sf_dir, fingerprint, n) → persisted (doc_id,
#: w1..wn) n-gram INSTANCE frame derived from the word-array stage.
#: Order 2 feeds ext_bigram_lm_score AND the hashed-bigram bucket
#: stage (dsir / quality-classifier family); order 3 feeds
#: ext_trigram_lm_score.
_NGRAM_INST = StageMemo(max_entries=4, free=unpersist_entry)


def _doc_words_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_python_sqlite_spark.operators.curation import doc_words

    def build() -> DataFrame:
        ws = doc_words(_docs(spark, sf_dir)).persist()
        ws.count()  # concurrent LM-family consumers (bench pass 2)
        return ws

    return _WORDS_STAGE.get_or_build(
        stage_key(spark, sf_dir, "documents"), build
    )


def _ngram_instances_stage(
    spark: SparkSession, sf_dir: str, n: int
) -> DataFrame:
    from etl_python_sqlite_spark.operators.curation import doc_ngrams

    def build() -> DataFrame:
        tg = doc_ngrams(
            _doc_words_stage(spark, sf_dir), n, words_col="ws"
        ).persist()
        tg.count()  # concurrent consumers: count tables + scoring join
        return tg

    return _NGRAM_INST.get_or_build(
        stage_key(spark, sf_dir, "documents", n), build
    )


#: (applicationId, sf_dir, fingerprint) → persisted (doc_id, ws)
#: RAW (un-lowercased) word-array frame — the tokenization shared by
#: ext_repetition_filter, ext_winnowing_pairs and the simhash
#: fingerprint stage build (r12-opt session 2; the LOWERCASED stage
#: `_doc_words_stage` serves the LM/word-stat family — the two cannot
#: merge without changing results). Measured: a tokenize+posexplode
#: pass is ~0.30 s at sf0.1, exploding the cached array ~0.13 s.
#: Eager count: repetition + winnowing run as concurrent bench actions.
_RAW_WORDS = StageMemo(free=unpersist_entry)


def _raw_words_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_python_sqlite_spark.functions.text import words

    def build() -> DataFrame:
        ws = (
            _docs(spark, sf_dir)
            .select("doc_id", words(F.col("text")).alias("ws"))
            .persist()
        )
        ws.count()  # concurrent consumers (see above)
        return ws

    return _RAW_WORDS.get_or_build(
        stage_key(spark, sf_dir, "documents"), build
    )


#: (applicationId, sf_dir, fingerprint) → persisted (doc_id, simhash)
#: 60-bit portable fingerprint frame. ext_simhash_fingerprints and
#: ext_simhash_near_dups each re-ran the IDENTICAL tokenize → phash60 →
#: 60-way bit explode → two-level aggregation per invocation — the
#: whole per-doc cost of both queries (r12-opt, guide §2.4 cross-query
#: sharing; the r11 within-query rewrites of this pass are measured
#: losers and stand). NOT the lowercased LM words stage: simhash
#: tokenizes the raw text, so the stages cannot merge without changing
#: results. Eager count: the two consumer queries run as CONCURRENT
#: bench actions (the multi-consumer invariant).
_SIMHASH_STAGE = StageMemo(free=unpersist_entry)


def _simhash_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        sh = D.simhash_portable(
            _docs(spark, sf_dir),
            words_arr=_raw_words_stage(spark, sf_dir),
        ).persist()
        sh.count()  # concurrent consumers: fingerprints + near-dups
        return sh

    return _SIMHASH_STAGE.get_or_build(
        stage_key(spark, sf_dir, "documents"), build
    )


#: (applicationId, sf_dir, fingerprint) → (q, exact) where q is the
#: vec_id=0 query vector (python floats) and exact the persisted
#: 20-row brute-force cosine top-20 over the nonzero corpus.
#: ext_cosine_topk, ext_ann_topk_lsh, ext_ivf_topk and ext_pq_topk
#: each paid a first() driver action for the SAME query vector plus
#: their own full-corpus exact ground-truth scan per invocation
#: (r12-opt, guide §2.4). Eager count: the four consumers run as
#: concurrent bench actions.
_ANN_QUERY = StageMemo(free=unpersist_entry)


def _ann_query_stage(
    spark: SparkSession, sf_dir: str
) -> tuple[list, DataFrame]:
    def build() -> tuple[list, DataFrame]:
        embs = _embs(spark, sf_dir)
        qrow = embs.filter(F.col("vec_id") == 0).select("embedding").first()
        q = [float(x) for x in qrow["embedding"]]
        exact = S.cosine_topk(
            embs.filter(F.col("vec_id") != 0), q, k=20
        ).persist()
        exact.count()  # concurrent consumers: the four ANN audits
        return q, exact

    return _ANN_QUERY.get_or_build(
        stage_key(spark, sf_dir, "embeddings"), build
    )


def ext_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 (r11) — contrastive HARD-NEGATIVE mining over the labeled
    embedding table: for each anchor, the most-similar vector carrying
    a DIFFERENT label — the standard negative-sampling step when
    training embedding/reranker models (in-batch negatives are easy;
    the valuable ones are the near-misses across class boundaries).

    Exactness contract (the audit-query discipline): anchors are the
    bounded ``vec_id % 10 == 1`` slice, candidates the full nonzero
    table; per pair the fold-cosine is the bit-portable sequential
    fold (ROUND 6), the argmax is row_number over (cos DESC, vec_id
    ASC) — rounding before ranking keeps rank boundaries stable across
    engines (the cosine_topk rule). Zero-norm embeddings are excluded
    on both sides with the exact Σ|x| ≠ 0 predicate.

    Scale story: this bounded-anchor pair scan is the GROUND-TRUTH
    shape (the allowlisted audit BNLJ class — anchors are a fixed
    slice, never the corpus); at production scale the candidate
    generator is the repo's ANN family (sign-LSH kNN-join / IVF,
    operators/similarity) with label-mismatch filtering on candidates
    and this exact fold as the verify — the ext_ann_* queries pin that
    machinery. Norms are folded ONCE PER VECTOR before the pair join
    (sqrt is a pure function of the fold — bit-identical wherever it
    is computed, so the twin's per-pair form matches), leaving one dot
    fold per pair: measured 7.4 → ~2.7 s at sf0.1 in the r11 build.
    r11-opt: the hoist only became REAL with the persist barrier —
    projection collapse had been re-inlining both norm folds into the
    per-pair projection (3 folds/pair in the executed plan; see the
    in-body comment), and an unrolled codegen'd element_at chain was
    A/B-measured 5× SLOWER than the HOF fold (OPTIMIZATION_r11.md),
    so the fold stays and the barrier does the work."""
    from etl_python_sqlite_spark.operators.similarity import (
        _as_double_array,
        _dot,
        _norm,
    )

    ev = _embs(spark, sf_dir).select(
        "vec_id", "label", _as_double_array("embedding").alias("v")
    )
    nonzero = F.aggregate(
        F.col("v"), F.lit(0.0), lambda a, x: a + F.abs(x)
    ) != F.lit(0.0)
    # PERSIST the norm-carrying frame before the pair join: without the
    # materialization barrier Catalyst's projection collapse re-inlines
    # BOTH hoisted norm folds into the per-pair projection — the
    # executed plan carried 3 zip_with folds per pair (dot + a_nrm +
    # c_nrm), the repo's "persist before self-joins on derived frames"
    # invariant exactly. Measured (r11-opt, interleaved same-session
    # A/B at sf0.1, 360k pairs): scored-stage 2.59 s → ~0.9 s; the
    # frame is one row per vector (~2k rows), so the persist is
    # byte-trivial and the eager count is one sub-100 ms job. tie()
    # scopes the cache to the result frame.
    ev = (
        ev.filter(nonzero)
        .select("vec_id", "label", "v", _norm(F.col("v")).alias("nrm"))
        .persist()
    )
    ev.count()
    # REPARTITION the anchor (stream) side of the nested-loop join: the
    # anchor slice fills 1-2 scan partitions, and BroadcastNestedLoopJoin
    # parallelism IS the stream side's partition count — profiled at
    # sf0.1, the whole 360k-pair dot stage ran in one task (2.6 s
    # single-core; the r11-opt profile in OPTIMIZATION_r11.md). The
    # exchange moves only the bounded anchor rows; width follows
    # defaultParallelism, never a constant (scale-adaptive rule).
    anchors = (
        ev.filter(F.col("vec_id") % 10 == 1)
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("label").alias("a_label"),
            F.col("v").alias("av"),
            F.col("nrm").alias("a_nrm"),
        )
    )
    cands = ev.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("c_label"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("c_nrm"),
    )
    pairs = anchors.crossJoin(cands).filter(
        F.col("a_label") != F.col("c_label")
    )
    scored = pairs.select(
        "anchor_id",
        "a_label",
        "cand_id",
        F.col("c_label").alias("negative_label"),
        F.round(
            _dot(F.col("av"), F.col("cv"))
            / (F.col("a_nrm") * F.col("c_nrm")),
            6,
        ).alias("neg_cos"),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("neg_cos"), F.asc("cand_id")
    )
    out = (
        scored.select(
            "anchor_id",
            "a_label",
            F.col("cand_id").alias("negative_id"),
            "negative_label",
            "neg_cos",
            F.row_number().over(w).alias("rn"),
            F.count("*")
            .over(Window.partitionBy("anchor_id"))
            .cast("long")
            .alias("n_candidates"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("anchor_id")
    )
    return tie(out, ev)
