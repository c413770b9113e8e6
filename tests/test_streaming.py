"""Streaming mirror tests: file-stream ETL with foreachBatch idempotent
load; watermarked windowed aggregation."""

from __future__ import annotations

import csv
from datetime import datetime, timedelta, timezone
from pathlib import Path

import pytest

pytestmark = pytest.mark.slow  # heavy e2e tier (pytest.ini default deselects)
from pyspark.sql import functions as F

from etl_python_sqlite_spark.pipeline import PipelineConfig
from etl_python_sqlite_spark.streaming.pipeline import (
    run_windowed_stream_once,
    start_stream,
    windowed_event_counts,
)

DIRTY = [
    ["nombre", "edad", "ciudad"],
    ["  guillermo ", "26", "san luis"],
    ["NOEMI", "52", "SAN LUIS"],
    ["Naomi ", "23", " san juan"],
]


def _write_csv(path: Path, rows):
    path.parent.mkdir(parents=True, exist_ok=True)
    with path.open("w", newline="", encoding="utf-8") as f:
        csv.writer(f).writerows(rows)


NOW = datetime(2024, 6, 1, 12, 0, 0, tzinfo=timezone.utc)


def test_stream_etl_end_to_end(spark, tmp_path):
    cfg = PipelineConfig(
        data_in=str(tmp_path / "in"),
        data_rejected=str(tmp_path / "rej"),
        warehouse=str(tmp_path / "wh"),
    )
    _write_csv(Path(cfg.data_in) / "f1.csv", DIRTY)

    q = start_stream(spark, cfg, str(tmp_path / "ckpt"), now=NOW)
    q.awaitTermination(120)

    fact = spark.read.parquet(cfg.fact_path)
    assert {(r["nombre"], r["edad"]) for r in fact.collect()} == {
        ("Guillermo", 26),
        ("Noemi", 52),
    }
    assert (Path(cfg.data_rejected) / "rejected_f1.csv").exists()

    # new file arrives (incl. a cross-batch duplicate) → second availableNow
    # run picks it up from the checkpoint; duplicate is ignored
    _write_csv(
        Path(cfg.data_in) / "f2.csv",
        [["nombre", "edad", "ciudad"], ["guillermo", "26", "San Luis"],
         ["Marta", "33", "Lima"]],
    )
    q2 = start_stream(spark, cfg, str(tmp_path / "ckpt"), now=NOW)
    q2.awaitTermination(120)

    fact = spark.read.parquet(cfg.fact_path)
    assert fact.count() == 3  # Marta added, duplicate Guillermo ignored
    audit = spark.read.parquet(cfg.audit_path)
    f2 = [r for r in audit.collect() if r["source_file"] == "f2.csv"]
    assert len(f2) == 1
    assert (f2[0]["inserted_new"], f2[0]["ignored_duplicates"]) == (1, 1)


def test_stream_per_file_audit_counts_in_one_microbatch(spark, tmp_path):
    """Two files arriving in ONE micro-batch get per-(run,file) insert
    accounting, not microbatch-global counters stamped on both rows."""
    cfg = PipelineConfig(
        data_in=str(tmp_path / "in"),
        data_rejected=str(tmp_path / "rej"),
        warehouse=str(tmp_path / "wh"),
    )
    _write_csv(
        Path(cfg.data_in) / "g1.csv",
        [["nombre", "edad", "ciudad"], ["Ana", "30", "Lima"], ["Luis", "41", "Cusco"]],
    )
    _write_csv(
        Path(cfg.data_in) / "g2.csv",
        [["nombre", "edad", "ciudad"], ["ana", "30", "LIMA"],  # dup of g1 row
         ["Marta", "33", "Lima"]],
    )

    q = start_stream(spark, cfg, str(tmp_path / "ckpt"), now=NOW)
    q.awaitTermination(120)

    audit = {r["source_file"]: r for r in spark.read.parquet(cfg.audit_path).collect()}
    g1, g2 = audit["g1.csv"], audit["g2.csv"]
    # in-batch duplicate resolves to the lexicographically first file
    assert (g1["inserted_new"], g1["ignored_duplicates"]) == (2, 0)
    assert (g2["inserted_new"], g2["ignored_duplicates"]) == (1, 1)
    assert spark.read.parquet(cfg.fact_path).count() == 3


def test_stream_empty_fields_match_batch(spark, tmp_path):
    """The stream reads CSV fields as the batch does: ``ana,,rosario`` is
    rejected for its empty age, the short row ``pedro,30`` for its missing
    city, and both runs write the same reject bytes and fact rows."""
    from etl_python_sqlite_spark.pipeline import run_batch

    text = "nombre,edad,ciudad\nana,,rosario\npedro,30\nx,26,\nluz,40,lima\n"
    out = {}
    for mode in ("batch", "stream"):
        cfg = PipelineConfig(
            data_in=str(tmp_path / mode / "in"),
            data_rejected=str(tmp_path / mode / "rej"),
            warehouse=str(tmp_path / mode / "wh"),
        )
        Path(cfg.data_in).mkdir(parents=True)
        (Path(cfg.data_in) / "f1.csv").write_text(text, encoding="utf-8")
        if mode == "batch":
            run_batch(spark, cfg, now=NOW)
        else:
            start_stream(spark, cfg, str(tmp_path / "ckpt"), now=NOW).awaitTermination(120)
        fact = spark.read.parquet(cfg.fact_path).select("persona_id", "nombre", "edad")
        out[mode] = (
            (Path(cfg.data_rejected) / "rejected_f1.csv").read_text(encoding="utf-8"),
            sorted(tuple(r) for r in fact.collect()),
        )
    assert out["stream"] == out["batch"]
    assert out["batch"][0] == (
        "nombre,edad,ciudad,motivo\n"
        'ana,"",rosario,Edad no convertible a int\n'
        'pedro,30,"",Valor None en campo requerido\n'
    )


def test_stream_and_batch_write_the_same_warehouse(spark, tmp_path):
    """One micro-batch of two files writes what ``run_batch`` writes over
    the same directory: the same dimension ids (ordered by first file,
    then key), fact rows, audit rows with their run_ids, and reject files
    under the on-disk names (``a b.csv``, not ``a%20b.csv``)."""
    from etl_python_sqlite_spark.pipeline import run_batch

    files = {
        "a b.csv": "nombre,edad,ciudad\nana,30,zarate\nbad,x,lima\n",
        "x+y.csv": "nombre,edad,ciudad\nluis,41,avellaneda\nana,30,Zarate\n",
    }
    out = {}
    for mode in ("batch", "stream"):
        cfg = PipelineConfig(
            data_in=str(tmp_path / mode / "in"),
            data_rejected=str(tmp_path / mode / "rej"),
            warehouse=str(tmp_path / mode / "wh"),
        )
        Path(cfg.data_in).mkdir(parents=True)
        for name, text in files.items():
            (Path(cfg.data_in) / name).write_text(text, encoding="utf-8")
        if mode == "batch":
            run_batch(spark, cfg, now=NOW)
        else:
            start_stream(spark, cfg, str(tmp_path / "ckpt"), now=NOW).awaitTermination(120)
        out[mode] = {
            table: sorted(tuple(r) for r in spark.read.parquet(path).collect())
            for table, path in (
                ("dim", cfg.dim_path), ("fact", cfg.fact_path), ("audit", cfg.audit_path)
            )
        }
        out[mode]["rejects"] = {
            p.name: p.read_bytes() for p in sorted(Path(cfg.data_rejected).iterdir())
        }
    assert out["stream"] == out["batch"]
    assert out["batch"]["dim"] == [(1, "Zarate"), (2, "Avellaneda")]
    assert list(out["batch"]["rejects"]) == ["rejected_a b.csv"]
    assert [r[2] for r in out["batch"]["audit"]] == ["a b.csv", "x+y.csv"]


def _events_rows():
    base = datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for h, n in [(0, 3), (1, 2), (2, 4)]:
        for i in range(n):
            rows.append(
                (h * 10 + i, base + timedelta(hours=h, minutes=i), 1, "click", 1.0)
            )
    return rows


def test_windowed_agg_batch_equivalence(spark):
    """The same windowed plan works on a batch frame (unified semantics)."""
    df = spark.createDataFrame(
        _events_rows(),
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    got = {
        (r["window_start"].hour, r["n_events"])
        for r in windowed_event_counts(df).collect()
    }
    assert got == {(0, 3), (1, 2), (2, 4)}


def test_windowed_stream_with_watermark(spark, tmp_path):
    src = str(tmp_path / "events_src")
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    # one file per hour → consumed as separate micro-batches (in ts order,
    # file listing is name-ordered) so the watermark advances between them
    rows = _events_rows()
    for h in (0, 1, 2):
        spark.createDataFrame(
            [r for r in rows if r[1].hour == h], schema
        ).coalesce(1).write.mode("append").parquet(src)

    sink = str(tmp_path / "events_sink")
    run_windowed_stream_once(
        spark, src, sink, str(tmp_path / "ckpt2"), watermark="30 minutes"
    )

    out = spark.read.parquet(sink)
    # append mode: a window emits once the watermark (max ts − 30min)
    # passes its END. max ts = 02:03 ⇒ wm 01:33 ⇒ hour-0 ([00:00,01:00))
    # finalized; hours 1-2 still open ⇒ withheld
    got = {(r["window_start"].hour, r["n_events"]) for r in out.collect()}
    assert got == {(0, 3)}


def test_streaming_dedup_with_watermark(spark, tmp_path):
    """Streaming exact-dedup: withWatermark + dropDuplicates keeps state
    bounded and drops re-delivered ids across micro-batches."""
    src = str(tmp_path / "dd_src")
    schema = "id long, ts timestamp, v double"
    base = datetime(2024, 1, 1, 0, 0, 0)
    spark.createDataFrame(
        [(1, base, 1.0), (2, base + timedelta(minutes=1), 2.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(2, base + timedelta(minutes=1), 2.0),   # duplicate redelivery
         (3, base + timedelta(minutes=2), 3.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["id"])
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["id"] for r in spark.sql("SELECT * FROM dedup_out").collect())
    assert got == [1, 2, 3]


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static join: a micro-batched event stream enriched against
    a STATIC dimension (the broadcast-dim pattern at streaming time —
    Spark replans the static side per micro-batch, no state store
    involved)."""
    src = str(tmp_path / "ss_src")
    schema = "event_id long, nation_key long, value double"
    spark.createDataFrame(
        [(1, 0, 10.0), (2, 1, 20.0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(3, 0, 30.0), (4, 99, 40.0)], schema   # 99 = orphan key
    ).coalesce(1).write.mode("append").parquet(src)

    static_dim = spark.createDataFrame(
        [(0, "ALGERIA"), (1, "ARGENTINA")], "nation_key long, n_name string"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .join(static_dim, "nation_key", "left")
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_out")
        .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["event_id"], r["n_name"])
        for r in spark.sql("select * from ss_out").collect()
    }
    assert got == {(1, "ALGERIA"), (2, "ARGENTINA"), (3, "ALGERIA"), (4, None)}


def test_dedup_stream_against_corpus(spark, tmp_path):
    """Streaming corpus-incremental dedup: stream docs whose exact text
    already exists in the static corpus are dropped map-side (broadcast
    anti-join on the 8-byte content key); within-stream re-deliveries
    collapse to first arrival across micro-batches."""
    from etl_python_sqlite_spark.streaming.pipeline import (
        dedup_stream_against_corpus,
    )

    corpus = spark.createDataFrame(
        [(100, "seen before"), (101, "also known text")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "ing_src")
    schema = "doc_id long, text string"
    # micro-batch 1: one known doc, one new
    spark.createDataFrame(
        [(1, "seen before"), (2, "brand new one")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    # micro-batch 2: stream-internal redelivery + another known + new
    spark.createDataFrame(
        [(3, "brand new one"), (4, "also known text"), (5, "fresh again")],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = dedup_stream_against_corpus(stream, corpus)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ingest_dedup_out")
        .option("checkpointLocation", str(tmp_path / "ing_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM ingest_dedup_out").collect()
    kept = sorted((r["doc_id"], r["text"]) for r in rows)
    # doc 1/4 dropped (corpus), doc 3 dropped (within-stream redelivery)
    assert kept == [(2, "brand new one"), (5, "fresh again")]


def test_dedup_stream_against_corpus_watermarked(spark, tmp_path):
    """The bounded-state variant: with an event-time watermark the
    within-stream dedup state expires via
    dropDuplicatesWithinWatermark."""
    from etl_python_sqlite_spark.streaming.pipeline import (
        dedup_stream_against_corpus,
    )

    corpus = spark.createDataFrame([(100, "known")], "doc_id long, text string")
    src = str(tmp_path / "ingw_src")
    schema = "doc_id long, text string, ts timestamp"
    base = datetime(2024, 1, 1, 0, 0, 0)
    spark.createDataFrame(
        [(1, "known", base), (2, "novel", base + timedelta(minutes=1)),
         (3, "novel", base + timedelta(minutes=2))],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    out = dedup_stream_against_corpus(stream, corpus, watermark=("ts", "1 hour"))
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ingest_dedup_wm_out")
        .option("checkpointLocation", str(tmp_path / "ingw_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ids = sorted(r["doc_id"] for r in
                 spark.sql("SELECT * FROM ingest_dedup_wm_out").collect())
    assert ids == [2]  # corpus hit dropped; duplicate 'novel' collapsed


def test_trending_terms_stream_topk(spark, tmp_path):
    """Watermarked windowed term counts + foreachBatch top-k: finalized
    windows emit exactly once with the right deterministic ranking, and
    the batch plan computes the same counts (unified semantics)."""
    from datetime import datetime

    from etl_python_sqlite_spark.streaming.pipeline import (
        run_trending_stream_once,
        trending_terms,
    )

    src = str(tmp_path / "in")
    sink = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def ts(h, m=0):
        return datetime(2024, 3, 1, h, m)

    early = [
        (ts(1, 5), "spark spark streams"),
        (ts(1, 10), "spark window state"),
        (ts(1, 20), "window window window"),
    ]
    late = [
        (ts(9, 0), "flush flush flush"),   # advances watermark past hour 1
        (ts(9, 1), "flush terms"),
    ]
    schema = "ts timestamp, text string"
    spark.createDataFrame(early, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)
    spark.createDataFrame(late, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    run_trending_stream_once(
        spark, src, sink, ckpt, k=2, window="1 hour", watermark="2 hours"
    )
    out = spark.read.parquet(sink).collect()
    hour1 = sorted(
        [
            (r["term"], r["n"], r["rank"])
            for r in out
            if r["window_start"] == ts(1)
        ]
    )
    # hour-1 window finalized: top-2 of {window:4, spark:3, ...}
    assert hour1 == [("spark", 3, 2), ("window", 4, 1)]
    # hour-9 window is NOT final (watermark hasn't passed it) → no rows
    assert all(r["window_start"] == ts(1) for r in out)

    # unified semantics: the same plan over a batch frame reproduces counts
    batch = spark.createDataFrame(early + late, schema)
    bc = {
        (r["window_start"], r["term"]): r["n"]
        for r in trending_terms(batch).collect()
    }
    assert bc[(ts(1), "window")] == 4 and bc[(ts(1), "spark")] == 3
    assert bc[(ts(9), "flush")] == 4


def test_near_dedup_stream_against_corpus(spark, tmp_path):
    """Streaming NEAR-dup ingest dedup: LSH candidates vs the static
    corpus index, exact-Jaccard verify, idempotent survivor sink.
    Doc 1 is a near-copy of corpus text (one word changed in a long
    template), doc 2 is unrelated; replaying the same files must insert
    zero extra rows (INSERT OR IGNORE semantics on the stream)."""
    from etl_python_sqlite_spark.streaming.pipeline import (
        near_dedup_stream_against_corpus,
    )

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    near = base.replace("lazy", "sleepy", 1)
    corpus = spark.createDataFrame(
        [(100, base), (101, "completely unrelated corpus text entry")],
        "doc_id long, text string",
    )
    src = str(tmp_path / "near_src")
    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(1, near), (2, "totally novel text with no overlap at all")],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(3, "second batch also novel content here")], schema
    ).coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "near_out")

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        writer = near_dedup_stream_against_corpus(stream, corpus, out)
        q = writer.option(
            "checkpointLocation", str(tmp_path / f"near_ckpt")
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)

    run_once()
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [2, 3]  # doc 1 verified as a near-dup and dropped

    # replay from a FRESH checkpoint: the idempotent sink must not
    # duplicate the survivors
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    writer = near_dedup_stream_against_corpus(stream, corpus, out)
    q = writer.option(
        "checkpointLocation", str(tmp_path / "near_ckpt2")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    kept2 = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept2 == [2, 3]


def test_stream_stream_interval_attribution(spark, tmp_path):
    """Stream-stream event-time interval join: purchases attribute to
    same-user clicks within the 1h horizon; outside-horizon and
    cross-user purchases don't. Batch run pins the matching; the
    streaming run drives the identical plan through micro-batches with
    state eviction from BOTH watermarks."""
    from datetime import datetime

    from etl_python_sqlite_spark.streaming.pipeline import (
        attribute_purchases_to_clicks,
    )

    def ev(i, minute, user, etype, value=0.0):
        return (i, datetime(2024, 6, 1, 12, 0) + timedelta(minutes=minute),
                user, etype, value, "{}")

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    clicks_rows = [ev(1, 0, 7, "click"), ev(2, 30, 7, "click"),
                   ev(3, 0, 9, "click")]
    # p10: 40min after click1 (in horizon of both u7 clicks? 40-0=40 ✓,
    # 40-30=10 ✓) ; p11: 90min after click1 (out for click1, in for
    # click2: 90-30=60 ✓ boundary) ; p12: other user, no click match;
    # p13: u9 but 3h later → out of horizon, and late enough that u9's
    # click state could only survive via the horizon-extended watermark
    purch_rows = [ev(10, 40, 7, "purchase", 5.0),
                  ev(11, 90, 7, "purchase", 7.0),
                  ev(12, 40, 8, "purchase", 9.0),
                  ev(13, 185, 9, "purchase", 11.0)]

    clicks_df = spark.createDataFrame(clicks_rows, schema)
    purch_df = spark.createDataFrame(purch_rows, schema)

    # ---- batch semantics (same plan, unified API) ----
    got = {
        (r["click_id"], r["purchase_id"])
        for r in attribute_purchases_to_clicks(clicks_df, purch_df).collect()
    }
    assert got == {(1, 10), (2, 10), (2, 11)}

    # ---- streaming e2e: two file sources, append-mode parquet sink ----
    csrc, psrc = str(tmp_path / "clicks"), str(tmp_path / "purch")
    clicks_df.coalesce(1).write.parquet(csrc)
    purch_df.coalesce(1).write.parquet(psrc)
    # a far-future heartbeat on both sides pushes the watermark past
    # every event so all attributions finalize within availableNow
    flush = [ev(98, 600, 1, "click"), ev(99, 600, 2, "purchase")]
    spark.createDataFrame(flush[:1], schema).coalesce(1).write.mode(
        "append"
    ).parquet(csrc)
    spark.createDataFrame(flush[1:], schema).coalesce(1).write.mode(
        "append"
    ).parquet(psrc)

    cs = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(csrc)
    ps = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(psrc)
    out = str(tmp_path / "attr_out")
    q = (
        attribute_purchases_to_clicks(cs, ps)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "attr_ckpt"))
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination(120)
    streamed = {
        (r["click_id"], r["purchase_id"])
        for r in spark.read.parquet(out).collect()
    }
    assert streamed == got


def test_streaming_rollup_maintenance(spark, tmp_path):
    """Streaming MV maintenance: after consuming all files the state
    equals a from-scratch rollup of all rows; a full replay from a fresh
    checkpoint does NOT double-count (versioned-state idempotence); an
    incremental third file merges without touching history."""
    from etl_python_sqlite_spark.operators.incremental import build_agg_state
    from etl_python_sqlite_spark.streaming.pipeline import (
        maintain_rollup_stream,
        read_state,
    )

    schema = "k string, v long"
    src = str(tmp_path / "mv_src")
    f1 = [("a", 5), ("b", 3), ("a", -2)]
    f2 = [("a", 10), ("c", 7)]
    spark.createDataFrame(f1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(f2, schema).coalesce(1).write.mode("append").parquet(src)

    state = str(tmp_path / "mv_state")

    def run(ckpt):
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            maintain_rollup_stream(s, ["k"], "v", state)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def snap():
        return {
            r["k"]: (r["n"], r["sum"], r["min"], r["max"])
            for r in read_state(spark, state).collect()
        }

    def expected(rows):
        df = spark.createDataFrame(rows, schema)
        return {
            r["k"]: (r["n"], r["sum"], r["min"], r["max"])
            for r in build_agg_state(df, ["k"], "v").collect()
        }

    run("mv_ck1")
    assert snap() == expected(f1 + f2)

    # FULL replay from a fresh checkpoint: same files re-consumed — the
    # versioned state must converge to the same rollup, not double it
    run("mv_ck2")
    assert snap() == expected(f1 + f2)

    # incremental arrival: only the new file's delta merges in
    f3 = [("b", 100), ("d", 1)]
    spark.createDataFrame(f3, schema).coalesce(1).write.mode("append").parquet(src)
    run("mv_ck1")  # resume the ORIGINAL checkpoint → only f3 is new
    assert snap() == expected(f1 + f2 + f3)


def test_stream_stream_interval_attribution_left_outer(spark, tmp_path):
    """left_outer interval join: unconverted clicks are ALSO emitted,
    with NULL purchase columns, once the watermark proves the horizon
    is closed. Batch pins the row set; streaming drives the same plan
    and must emit the NULL rows in a post-watermark micro-batch."""
    from datetime import datetime, timedelta

    from etl_python_sqlite_spark.streaming.pipeline import (
        attribute_purchases_to_clicks,
    )

    def ev(i, minute, user, etype, value=0.0):
        return (i, datetime(2024, 6, 1, 12, 0) + timedelta(minutes=minute),
                user, etype, value, "{}")

    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    clicks_rows = [ev(1, 0, 7, "click"), ev(2, 30, 7, "click"),
                   ev(3, 0, 9, "click")]
    purch_rows = [ev(10, 40, 7, "purchase", 5.0),
                  ev(11, 90, 7, "purchase", 7.0),
                  ev(12, 40, 8, "purchase", 9.0)]
    clicks_df = spark.createDataFrame(clicks_rows, schema)
    purch_df = spark.createDataFrame(purch_rows, schema)

    # batch semantics: click 3 (user 9) never converts → NULL purchase
    got = {
        (r["click_id"], r["purchase_id"])
        for r in attribute_purchases_to_clicks(
            clicks_df, purch_df, how="left_outer"
        ).collect()
    }
    assert got == {(1, 10), (2, 10), (2, 11), (3, None)}

    # unknown mode rejected up front
    try:
        attribute_purchases_to_clicks(clicks_df, purch_df, how="full")
    except ValueError:
        pass
    else:
        raise AssertionError("expected ValueError")

    # streaming e2e: the heartbeat HELPER writes the two trailing
    # batches per side that the outer contract requires (watermark
    # advances on batch k, state flushes on batch k+1; a quiet side
    # pins the joint watermark) — the API's own utility, exercised here
    from etl_python_sqlite_spark.streaming.pipeline import (
        inject_outer_join_heartbeats,
    )

    csrc, psrc = str(tmp_path / "oc"), str(tmp_path / "op")
    clicks_df.coalesce(1).write.parquet(csrc)
    purch_df.coalesce(1).write.parquet(psrc)
    inject_outer_join_heartbeats(
        spark,
        {"click": csrc, "purchase": psrc},
        beyond_ts=datetime(2024, 6, 1, 13, 30),
    )

    cs = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(csrc)
    ps = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(psrc)
    out = str(tmp_path / "outer_out")
    q = (
        attribute_purchases_to_clicks(cs, ps, how="left_outer")
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "outer_ckpt"))
        .trigger(availableNow=True)
        .start(out)
    )
    q.awaitTermination(120)
    streamed = {
        (r["click_id"], r["purchase_id"])
        for r in spark.read.parquet(out).collect()
    }
    # every batch attribution must appear; the original unconverted
    # click must surface as a NULL row (heartbeat clicks may also show
    # as unconverted — filter to the ids under test)
    core = {(c, p) for c, p in streamed if c in (1, 2, 3)}
    assert core == {(1, 10), (2, 10), (2, 11), (3, None)}


def test_streaming_rollup_read_failure_propagates(spark, tmp_path):
    """A CORRUPT state version must fail the micro-batch (so it
    retries), never be silently treated as 'no state yet' — the
    r4-ADVICE exactly-once hazard: swallowing a read error would write
    v=N containing only the batch's own delta and permanently drop all
    accumulated history from every later merge."""
    import os

    import pytest

    from etl_python_sqlite_spark.streaming.pipeline import (
        maintain_rollup_stream,
        read_state,
    )

    schema = "k string, v long"
    src = str(tmp_path / "rf_src")
    spark.createDataFrame([("a", 5)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    state = str(tmp_path / "rf_state")

    def run(ckpt):
        s = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            maintain_rollup_stream(s, ["k"], "v", state)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run("rf_ck1")
    assert read_state(spark, state).count() == 1

    # corrupt every parquet footer in the newest version dir
    vdirs = sorted(
        d for d in os.listdir(state) if d.startswith("v=")
    )
    vdir = os.path.join(state, vdirs[-1])
    for f in os.listdir(vdir):
        if f.endswith(".parquet"):
            with open(os.path.join(vdir, f), "r+b") as fh:
                fh.seek(0)
                fh.write(b"CORRUPT!" * 16)

    # a new batch must now FAIL (propagated read error), not reset
    spark.createDataFrame([("b", 7)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    with pytest.raises(Exception):
        run("rf_ck1")
    # and crucially: no NEW state version was committed on top of the
    # corrupt predecessor (a silent reset would have written one
    # containing only b's delta)
    after = sorted(d for d in os.listdir(state) if d.startswith("v="))
    assert after == vdirs


def test_read_rollup_state_corrupt_raises_not_empty(spark, tmp_path):
    """The PUBLIC reader has the same contract as the maintenance loop
    (VERDICT r5 "What's wrong #2"): missing path → None, but a corrupt
    or unreadable committed version must RAISE — a consumer acting on a
    falsely-'empty' view is a correctness bug."""
    import os

    import pytest

    from etl_python_sqlite_spark.streaming.pipeline import read_state

    state = str(tmp_path / "rr_state")
    # 1) no state yet → None (not an error)
    assert read_state(spark, state) is None

    # 2) a committed version reads back
    spark.createDataFrame([("a", 1, 5, 5, 5)], "k string, cnt long, s long, mn long, mx long").coalesce(
        1
    ).write.parquet(state + "/v=3")
    assert read_state(spark, state).count() == 1

    # 3) corrupt the newest version's footers → the reader must raise
    vdir = state + "/v=3"
    for f in os.listdir(vdir):
        if f.endswith(".parquet"):
            with open(os.path.join(vdir, f), "r+b") as fh:
                fh.seek(0)
                fh.write(b"CORRUPT!" * 16)
    with pytest.raises(Exception):
        read_state(spark, state).count()


def test_span_contamination_stream_against_corpus(spark, tmp_path):
    """Streaming span-level contamination: a doc embedding a verbatim
    ≥40-char corpus passage is reported with the exact maximal-span
    stats (ground truth from the pure-Python scan); clean docs emit no
    row; a second batch lands under its own batch_id; restart replay
    rewrites only its partitions (no duplicate report rows)."""
    from etl_python_sqlite_spark.streaming.pipeline import (
        span_contamination_stream_against_corpus,
    )

    passage = "the benchmark answer is forty two and the question is unknowable"
    corpus = spark.createDataFrame(
        [(100, "prefix " + passage + " suffix"),
         (101, "other corpus material entirely")],
        "doc_id long, text string",
    )
    contaminated = "student reply starts " + passage + " and then rambles on"
    schema = "doc_id long, text string"
    src = str(tmp_path / "span_src")
    spark.createDataFrame(
        [(1, contaminated), (2, "totally clean answer with original words")],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(3, "batch two also clean"), (4, "echo: " + passage)], schema
    ).coalesce(1).write.mode("append").parquet(src)

    sink = str(tmp_path / "span_sink")

    def run(ckpt: str) -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        writer = span_contamination_stream_against_corpus(
            stream, corpus, sink
        )
        q = writer.option(
            "checkpointLocation", str(tmp_path / ckpt)
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)
        writer._corpus_index.unpersist()

    run("span_ckpt")
    rows = {r["doc_id"]: r for r in spark.read.parquet(sink).collect()}
    assert set(rows) == {1, 4}  # clean docs 2,3 emit nothing

    # ground truth: maximal run of positions whose 40-gram is a corpus
    # 40-gram (python scan over the corpus gram set)
    L = 40
    grams = set()
    for t in ("prefix " + passage + " suffix",
              "other corpus material entirely"):
        for i in range(len(t) - L + 1):
            grams.add(t[i:i + L])

    def spans_of(t):
        ps = [i + 1 for i in range(len(t) - L + 1) if t[i:i + L] in grams]
        out, s = [], None
        for p in ps:
            if s is None:
                s, e = p, p + L
            elif p - prev > L:
                out.append((s, e)); s, e = p, p + L
            else:
                e = p + L
            prev = p
        if s is not None:
            out.append((s, e))
        return out

    for doc_id, text in ((1, contaminated), (4, "echo: " + passage)):
        exp = spans_of(text)
        r = rows[doc_id]
        assert r["n_spans"] == len(exp)
        assert r["covered_chars"] == sum(e - s for s, e in exp)
        assert r["max_span_len"] == max(e - s for s, e in exp)

    # replay from a fresh checkpoint: dynamic batch_id overwrite keeps
    # the report exactly-once
    run("span_ckpt2")
    rows2 = spark.read.parquet(sink).collect()
    assert len(rows2) == 2


def test_image_dedup_stream_against_corpus(spark, tmp_path):
    """Streaming image ingest dedup (r10): re-encoded and noisy twins
    of corpus images drop (dHash bands + exact Hamming verify), fresh
    images and undecodable blobs pass through; replay from a fresh
    checkpoint inserts zero duplicates."""
    import numpy as np

    from etl_python_sqlite_spark.operators import multimodal as M
    from etl_python_sqlite_spark.streaming.pipeline import (
        image_dedup_stream_against_corpus,
    )

    rng = np.random.default_rng(9)
    px_a = rng.integers(0, 256, size=(16, 18, 3), dtype=np.uint8)
    px_b = rng.integers(0, 256, size=(16, 18, 3), dtype=np.uint8)
    fresh = rng.integers(0, 256, size=(16, 18, 3), dtype=np.uint8)
    corpus = spark.createDataFrame(
        [
            (100, bytearray(M.encode_png(px_a))),
            (101, bytearray(M.encode_bmp(px_b))),
        ],
        "media_id long, content binary",
    )
    # noisy twin of px_a: flip one byte in one dHash cell (hamming <= 2)
    noisy = px_a.copy()
    noisy[0, 0, 0] = (int(noisy[0, 0, 0]) + 128) % 256
    src = str(tmp_path / "img_src")
    schema = "media_id long, content binary"
    spark.createDataFrame(
        [
            (1, bytearray(M.encode_ppm(px_a))),   # re-encode -> drop
            (2, bytearray(M.encode_png(noisy))),  # noisy twin -> drop
            (3, bytearray(M.encode_png(fresh))),  # novel -> keep
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(4, bytearray(b"\xffJUNK"))], schema  # undecodable -> keep
    ).coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "img_out")

    def run_once(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        writer = image_dedup_stream_against_corpus(stream, corpus, out)
        q = writer.option(
            "checkpointLocation", str(tmp_path / ckpt)
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)
        q.stop()  # releases the corpus hash cache (no manual unpersist)
        assert not writer._corpus_hashes.is_cached

    run_once("img_ckpt")
    kept = sorted(r["media_id"] for r in spark.read.parquet(out).collect())
    assert kept == [3, 4]

    run_once("img_ckpt2")  # fresh-checkpoint replay: idempotent sink
    kept2 = sorted(r["media_id"] for r in spark.read.parquet(out).collect())
    assert kept2 == [3, 4]


def test_audio_dedup_stream_against_corpus(spark, tmp_path):
    """Streaming audio ingest dedup (r10): volume-scaled and
    one-sample-edited copies of corpus clips drop; novel clips and
    undecodable blobs pass; replay inserts zero duplicates."""
    import numpy as np

    from etl_python_sqlite_spark.operators import multimodal as M
    from etl_python_sqlite_spark.streaming.pipeline import (
        audio_dedup_stream_against_corpus,
    )

    rng = np.random.default_rng(21)
    s_a = rng.integers(-128, 128, size=(488, 1)).astype(np.int16)
    s_b = rng.integers(-128, 128, size=(488, 1)).astype(np.int16)
    corpus = spark.createDataFrame(
        [(100, bytearray(M.encode_wav(s_a, 8000)))],
        "media_id long, content binary",
    )
    edited = s_a.copy()
    edited[255, 0] = 127
    src = str(tmp_path / "aud_src")
    schema = "media_id long, content binary"
    spark.createDataFrame(
        [
            (1, bytearray(M.encode_wav(s_a * 2, 8000))),  # louder -> drop
            (2, bytearray(M.encode_wav(edited, 8000))),   # edit -> drop
            (3, bytearray(M.encode_wav(s_b, 8000))),      # novel -> keep
            (4, bytearray(b"\xffnot audio")),             # reject -> keep
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    out = str(tmp_path / "aud_out")

    def run_once(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        writer = audio_dedup_stream_against_corpus(stream, corpus, out)
        q = writer.option(
            "checkpointLocation", str(tmp_path / ckpt)
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)
        q.stop()  # releases the corpus hash cache (no manual unpersist)
        assert not writer._corpus_hashes.is_cached

    run_once("aud_ckpt")
    kept = sorted(r["media_id"] for r in spark.read.parquet(out).collect())
    assert kept == [3, 4]
    run_once("aud_ckpt2")
    kept2 = sorted(r["media_id"] for r in spark.read.parquet(out).collect())
    assert kept2 == [3, 4]


def test_video_dedup_stream_against_corpus(spark, tmp_path):
    """Streaming video ingest dedup (r11, VERDICT r10 #5): reordered,
    truncated and per-frame-noisy (lossy-re-encode surrogate) copies of
    corpus videos drop at ingest via the per-video set-overlap verify;
    novel videos and undecodable containers pass; replay from a fresh
    checkpoint inserts zero duplicates; stop() releases the corpus
    fingerprint index."""
    import numpy as np

    from etl_python_sqlite_spark.operators import multimodal as M
    from etl_python_sqlite_spark.streaming.pipeline import (
        video_dedup_stream_against_corpus,
    )

    rng = np.random.default_rng(33)

    def frames(n=4):
        return [
            rng.integers(0, 256, size=(16, 18, 3), dtype=np.uint8)
            for _ in range(n)
        ]

    fr_a, fr_b, fr_new = frames(), frames(), frames()
    corpus = spark.createDataFrame(
        [
            (100, bytearray(M.encode_bmv(fr_a))),
            (101, bytearray(M.encode_bmv(fr_b))),
        ],
        "media_id long, content binary",
    )
    # noisy copy of fr_b: a few payload bytes per frame (hamming <= 6)
    noisy = []
    for f in fr_b:
        flat = f.reshape(-1).copy()
        for t, d in {5: 128, 200: 64, 431: 200}.items():
            flat[t] = (int(flat[t]) + d) % 256
        noisy.append(flat.reshape(f.shape))
    src = str(tmp_path / "vid_src")
    schema = "media_id long, content binary"
    spark.createDataFrame(
        [
            (1, bytearray(M.encode_bmv(fr_a[::-1]))),   # reorder -> drop
            (2, bytearray(M.encode_bmv(fr_a[:2]))),     # truncate -> drop
            (3, bytearray(M.encode_bmv(noisy))),        # noisy -> drop
            (4, bytearray(M.encode_bmv(fr_new))),       # novel -> keep
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(5, bytearray(b"\x00not a container"))], schema  # reject -> keep
    ).coalesce(1).write.mode("append").parquet(src)
    out = str(tmp_path / "vid_out")

    def run_once(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        writer = video_dedup_stream_against_corpus(
            stream, corpus, out, min_shared=2, max_hamming=6
        )
        q = writer.option(
            "checkpointLocation", str(tmp_path / ckpt)
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)
        q.stop()  # releases the corpus fingerprint index
        assert not writer._corpus_hashes.is_cached

    run_once("vid_ckpt")
    kept = sorted(r["media_id"] for r in spark.read.parquet(out).collect())
    assert kept == [4, 5]

    run_once("vid_ckpt2")  # fresh-checkpoint replay: idempotent sink
    kept2 = sorted(r["media_id"] for r in spark.read.parquet(out).collect())
    assert kept2 == [4, 5]


def test_corpus_release_rearms_on_restart(spark, tmp_path):
    """The corpus cache released by stop() must re-arm when the SAME
    writer is started again (replay harnesses reuse one writer), and
    release_corpus_cache() is the explicit handle for never-started
    writers."""
    import numpy as np

    from etl_python_sqlite_spark.operators import multimodal as M
    from etl_python_sqlite_spark.streaming.pipeline import (
        image_dedup_stream_against_corpus,
    )

    rng = np.random.default_rng(77)
    px = rng.integers(0, 256, size=(16, 18, 3), dtype=np.uint8)
    corpus = spark.createDataFrame(
        [(1, bytearray(M.encode_png(px)))], "media_id long, content binary"
    )
    src = str(tmp_path / "rearm_src")
    schema = "media_id long, content binary"
    spark.createDataFrame(
        [(2, bytearray(M.encode_bmp(px)))], schema
    ).coalesce(1).write.mode("append").parquet(src)
    out = str(tmp_path / "rearm_out")

    stream = spark.readStream.schema(schema).parquet(src)
    writer = image_dedup_stream_against_corpus(stream, corpus, out)
    assert writer._corpus_hashes.is_cached  # armed at build
    q = writer.option(
        "checkpointLocation", str(tmp_path / "rearm_ckpt")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    q.stop()
    assert not writer._corpus_hashes.is_cached  # released by stop
    q2 = writer.option(
        "checkpointLocation", str(tmp_path / "rearm_ckpt2")
    ).trigger(availableNow=True).start()
    assert writer._corpus_hashes.is_cached  # re-armed by restart
    q2.awaitTermination(120)
    q2.stop()
    assert not writer._corpus_hashes.is_cached

    # never-started writer: the explicit public release handle
    stream2 = spark.readStream.schema(schema).parquet(src)
    w2 = image_dedup_stream_against_corpus(stream2, corpus, out)
    assert w2._corpus_hashes.is_cached
    w2.release_corpus_cache()
    assert not w2._corpus_hashes.is_cached


def test_passage_dedup_stream_against_corpus(spark, tmp_path):
    """Streaming passage-level dedup (r11): corpus passages are CUT
    from arriving documents, within-batch first-writer-wins applies,
    wordless docs pass through, cross-batch passages are NOT deduped
    (the documented divergence), and fresh-checkpoint replay inserts
    zero duplicate rows."""
    from etl_python_sqlite_spark.streaming.pipeline import (
        passage_dedup_stream_against_corpus,
    )

    corpus = spark.createDataFrame(
        [(100, "a b c d e f")], "doc_id long, text string"
    )
    src = str(tmp_path / "psg_src")
    schema = "doc_id long, text string"
    # batch 1: corpus cut + within-batch first-writer-wins
    spark.createDataFrame(
        [
            (1, "a b c x y z"),     # "a b c" cut (corpus), "x y z" kept
            (2, "x y z x y z"),     # doc 1 owns "x y z" in this batch
            (4, ""),                # wordless -> passes through
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    # batch 2: corpus cut again + cross-batch NON-dedup
    spark.createDataFrame(
        [
            (3, "d e f g h i"),     # "d e f" cut, "g h i" kept
            (5, "x y z"),           # batch 1 kept it too -> kept again
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "psg_out")

    def run_once(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        writer = passage_dedup_stream_against_corpus(
            stream, corpus, out, window_words=3
        )
        q = writer.option(
            "checkpointLocation", str(tmp_path / ckpt)
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)
        q.stop()
        assert not writer._corpus_hashes.is_cached

    run_once("psg_ckpt")
    got = {
        r["doc_id"]: (r["cleaned_text"], r["n_chunks"], r["n_kept"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {
        1: ("x y z", 2, 1),
        2: ("", 2, 0),
        3: ("g h i", 2, 1),
        4: ("", 0, 0),
        5: ("x y z", 1, 1),
    }

    run_once("psg_ckpt2")  # fresh-checkpoint replay: idempotent sink
    again = spark.read.parquet(out)
    assert again.count() == 5
    got2 = {
        r["doc_id"]: (r["cleaned_text"], r["n_chunks"], r["n_kept"])
        for r in again.collect()
    }
    assert got2 == got


def test_kmv_stream_maintenance_matches_batch(spark, tmp_path):
    """Streaming KMV sketch maintenance (r11): the streamed per-group
    sketch is BIT-IDENTICAL to batch kmv_sketches over the union of all
    batches (order-invariant min-k merge law), and fresh-checkpoint
    replay converges to the same state (exactly-once versioned state)."""
    from etl_python_sqlite_spark.operators.sketch import kmv_sketches
    from etl_python_sqlite_spark.streaming.pipeline import (
        maintain_kmv_stream,
        read_state,
    )

    src = str(tmp_path / "kmv_src")
    schema = "source string, w string"
    rows1 = [("a", f"w{i}") for i in range(30)] + [("b", f"x{i}") for i in range(5)]
    rows2 = [("a", f"w{i}") for i in range(20, 50)] + [("b", "x2"), ("b", "y9")]
    spark.createDataFrame(rows1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    state = str(tmp_path / "kmv_state")

    def run_once(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            maintain_kmv_stream(
                stream, state, group_col="source", value_col="w", k=16
            )
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    run_once("kmv_ckpt")
    streamed = {
        (r["source"], r["h"], r["rn"])
        for r in read_state(spark, state).collect()
    }
    union = spark.createDataFrame(rows1 + rows2, schema)
    batch = {
        (r["source"], r["h"], r["rn"])
        for r in kmv_sketches(union, "source", "w", k=16).collect()
    }
    assert streamed == batch
    # group b never filled the sketch: all 6 distinct values present
    # (x0..x4 from batch 1; batch 2 re-delivers x2 and adds y9)
    assert len([t for t in streamed if t[0] == "b"]) == 6

    run_once("kmv_ckpt2")  # fresh-checkpoint replay: same final state
    again = {
        (r["source"], r["h"], r["rn"])
        for r in read_state(spark, state).collect()
    }
    assert again == batch
