"""End-to-end training-data pipeline integration: curate → pack → shard.

Chains the real operators (curation predicates from the funnel, the
sequence-packing window, the WebDataset shard writer and reader) over
the testdata documents table and asserts the invariants a training job
relies on: every kept doc lands in exactly one shard, shards are
globally range-ordered, and token mass is conserved.
"""

from __future__ import annotations

import tarfile

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_python_sqlite_spark.functions import text as X
from etl_python_sqlite_spark.operators.shards import write_webdataset_shards
from etl_python_sqlite_spark.sources.parquet import load_table
from etl_python_sqlite_spark.sources.webdataset import read_webdataset
from tests.conftest import SF_SMOKE


def test_curate_pack_shard_end_to_end(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents")

    # curation: the funnel's keep-path predicates (train split only)
    keeper = F.min("doc_id").over(Window.partitionBy(F.sha2(F.col("text"), 256)))
    h = F.pmod(F.col("doc_id") * 2654435761, F.lit(2**32)) % 100
    kept = (
        docs.withColumn("_keeper", keeper)
        .filter(
            (X.langid(F.col("text")) != "und")
            & (F.round(X.quality_score(F.col("text")), 6) >= 0.5)
            & (F.col("doc_id") == F.col("_keeper"))
            & (h < 80)
        )
        .select("doc_id", "source", "text")
    )

    # packing: per-source exclusive-cumsum chunking at 512 tokens
    toks = kept.select(
        "doc_id",
        "source",
        F.size(X.regex_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = (
        toks.withColumn("prev", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .withColumn("seq_id", F.expr("prev div 512"))
        .select("doc_id", "source", "n_tokens", "seq_id")
    )

    out = tmp_path / "train_shards"
    # one sample per doc, keyed (source, seq_id, doc_id); zero padding
    # makes the key's string order the tuple order
    samples = packed.select(
        F.format_string("%s-%012d-%012d", "source", "seq_id", "doc_id").alias("key"),
        F.col("n_tokens").cast("string").alias("tok"),
    )
    write_webdataset_shards(samples, out, key_col="key", members={"tok": "tok"}, num_shards=3)

    tars = sorted(out.glob("shard-*.tar"))
    assert tars, "shards must be written"

    back = read_webdataset(spark, str(out), members=["tok"]).collect()
    n_kept = kept.count()
    assert len(back) == n_kept, "every kept doc in exactly one shard"
    assert len({r["key"] for r in back}) == n_kept

    # token mass conserved through the pipeline
    assert (
        sum(int(bytes(r["tok"])) for r in back)
        == toks.agg(F.sum("n_tokens")).collect()[0][0]
    )

    # global range order across shards on the (source, seq_id, doc_id) key
    spans = []
    for tar in tars:
        with tarfile.open(tar) as tf:
            keys = [m.name.split(".", 1)[0] for m in tf.getmembers()]
        assert keys == sorted(keys), "samples inside a shard must be sorted"
        if keys:
            spans.append((keys[0], keys[-1]))
    spans.sort()
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi <= lo, "shard key ranges must not interleave"
