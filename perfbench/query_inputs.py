"""Seeded parquet tables for the ``queries`` workload, and result digests.

The tables have the schemas, value domains and physical layout of the
engine's testdata (TPC-H-shaped star schema plus ``events``,
``documents`` and ``embeddings``): money as 2-dp doubles, timestamps as
naive microseconds, one row group per file, snappy; row counts are
those of sf0.001.

A query's digest is its row count plus an order-insensitive hash of its
rows, each cell canonicalized as ``tests/conftest.py::_canon`` does
(floats rounded to 9 decimals, columns sorted by name). The expected
digest comes from the query's DuckDB oracle (``oracle_sql()``) run on the
same generated files.
"""

from __future__ import annotations

import hashlib
import math
from datetime import datetime, timedelta
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: Fixed query set: a spread of both halves of ``__spark_entry__.queries()``
#: (shuffle aggregation, joins, windows, text, similarity, Arrow/Python
#: workers, checkpointed memos), each oracle-checked.
RELATIONAL = (
    "agg_pricing_summary", "fact_dim_join", "window_value_zoo",
    "part_basket_pairs", "sessionize_events",
)
EXT = (
    "ext_exact_dedup", "ext_langid", "ext_bpe_tokenizer",
    "ext_tfidf_top_terms", "ext_kll_quantiles",
)

WORDS = (
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng: np.random.Generator, start: datetime, span: int, n: int) -> list:
    return [start + timedelta(days=int(d)) for d in rng.integers(0, span, n)]


def _write(out: Path, name: str, cols: dict) -> None:
    pq.write_table(
        pa.table(cols), out / f"{name}.parquet",
        compression="snappy", row_group_size=1 << 30,
    )


def generate(out: Path, seed: int) -> None:
    """Write every table under ``out``."""
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp, n_part, n_ord, n_line, n_ev = 150, 10, 200, 1500, 6000, 1000
    n_doc = n_vec = 500
    ts = pa.timestamp("us")

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"], n_cust
        ).tolist(),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adjectives = ["small", "red", "blue", "green", "large", "shiny", "old", "new"]
    nouns = ["ring", "widget", "bolt", "gear", "nut", "spring", "valve", "pipe"]
    _write(out, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], n_part
        ).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    _write(out, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days(rng, datetime(1995, 1, 1), 2400, n_ord), ts),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ).tolist(),
    })
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n_line).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_line).tolist(),
        "l_shipdate": pa.array(_days(rng, datetime(1995, 1, 2), 2500, n_line), ts),
    })
    start = datetime(2024, 1, 1)
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    _write(out, "events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array([start + timedelta(microseconds=int(s * 1e6)) for s in secs], ts),
        "user_id": pa.array(rng.integers(0, n_cust, n_ev), pa.int64()),
        "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_ev).tolist(),
        "value": _money(rng, 0.01, 490.02, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for _ in range(n_doc):
        if texts and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus one token
            words = texts[int(rng.integers(0, len(texts)))].split()
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
        else:
            words = rng.choice(WORDS, int(rng.integers(10, 101))).tolist()
        texts.append(" ".join(words))
    _write(out, "documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]).tolist(),
        "source": [f"src{i // 25}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 0.06, (10, 64))
    vecs = rng.normal(0, 0.125, (n_vec, 64)) + centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def fingerprint(sf_dir: Path) -> str:
    """sha256 over the table files' names and bytes."""
    h = hashlib.sha256()
    for t in TABLES:
        h.update(t.encode())
        h.update((sf_dir / f"{t}.parquet").read_bytes())
    return h.hexdigest()[:16]


def _canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        r = round(v, 9)
        return "0" if r == 0 else repr(r)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, np.generic):
        return _canon(v.item())
    return str(v)


def digest(pdf) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a pandas frame."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_canon(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join([",".join(cols)] + rows).encode())
    return len(rows), h.hexdigest()[:16]


def oracle_digests(sf_dir: Path, oracles: dict[str, str], names) -> dict[str, tuple]:
    """Expected digest of each named query, from its DuckDB oracle."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return {n: digest(con.sql(oracles[n]).fetchdf()) for n in names}
    finally:
        con.close()
