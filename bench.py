"""Benchmark harness — one JSON line for the driver.

Runs every declared query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints:

    {"metric": "...", "value": <batch_wall_sec>, "unit": "sec",
     "queries": {"<name>": sec, ...}, "sf": <sf>, ...}

Two passes, both forced end-to-end with the `noop` sink (full
computation, no driver-side collect tax):

0. warm-up — every query once, untimed. Whole-stage-codegen COMPILE
   otherwise lands on whichever query happens to run first over a given
   operator shape — i.e. per-query numbers would measure dict ORDER
   (the round-3 reorder shifted heavy EXT queries to the front and
   inflated their cold numbers 4-7×). The timed passes then compile
   nothing only while Spark's generated-class cache holds every query's
   classes: at Spark's default of 100 entries each timed pass recompiled
   ~3,000 classes, so the session is built by ``session.get_spark``,
   which sizes the cache to the measured working set
   (``session.CODEGEN_CACHE_ENTRIES``);
1. sequential — warm per-query latency (reported in "queries");
2. concurrent (8 submitter threads, FAIR scheduler) — the batch-
   throughput wall for all queries together, reported as "value". With
   44 independent queries on a 32-core executor, overlapping the fixed
   per-query scheduling overhead is the realistic way this engine runs a
   workload batch; the sequential sum is also reported for transparency.

Apples-to-apples extras (VERDICT r1 §bench-hygiene): the oracle-checked
subset and the rows-only EXT/ANN subset get separate concurrent walls
("oracle_wall_sec" / "rows_only_wall_sec"), and the SAME oracle SQL is
timed in-process on DuckDB over the same parquet ("duckdb_oracle_sec"),
so the ≤2× bar is measured against the exact query set DuckDB can run,
every round, on this machine.
"""

from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from etl_python_sqlite_spark.session import get_spark

    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={
            # the PySpark default driver heap is 1g — far under-provisioned
            # for 32 concurrent task threads' aggregation hash maps
            # (measured OOM on a 16× corpus probe); size it to the machine
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_MEM", "24g"),
            "spark.scheduler.mode": "FAIR",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    queries = entrymod.queries()

    # warm-up: JVM + parquet footer reads off the clock
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).collect()

    def run_one(item: tuple) -> tuple:
        name, fn = item
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            return name, round(time.perf_counter() - t0, 4)
        except Exception as exc:  # a broken query must not sink the bench
            print(f"bench: {name} failed: {exc}", file=sys.stderr)
            return name, -1.0

    # pass 0: untimed warm-up of every query (see module docstring §0).
    # The per-query COLD times are recorded (BENCH_DETAIL.json only,
    # never the final line — capture contract) so memo-amortized stage
    # builds stay attributable: a query whose warm number rides a
    # session memo shows its true first-invocation cost here
    # (VERDICT r11 next #6).
    cold_timings = dict(run_one(item) for item in queries.items())

    # pass 1: sequential per-query latency, warm plans, BEST OF TWO
    # passes — single-shot numbers on a 32-thread single JVM swing 2-4×
    # for sub-second queries (GC pauses + localCheckpoint I/O land on
    # whichever query is running; measured 5 s vs 18 s on back-to-back
    # identical runs of the CC pipeline), and min-of-2 is the standard
    # way to report the query's own cost rather than the session's noise.
    # No clearCache between queries: the EXT pipelines' cached
    # intermediates are scoped to their result frame (operators/cache.tie)
    # and release the moment run_one drops it, so tail-query timings do
    # not depend on run order (the r2 5-7× inflation the old clearCache
    # workaround masked).
    timings = dict(run_one(item) for item in queries.items())
    for name, t in dict(run_one(item) for item in queries.items()).items():
        if 0 <= t < timings.get(name, float("inf")) or timings[name] < 0:
            timings[name] = t
    sequential_total = round(sum(t for t in timings.values() if t >= 0), 4)

    # pass 2: concurrent batch throughput (warm plans) — best of two runs
    # to damp scheduler/GC noise, which is substantial at this scale
    # (r4's driver-run single wall sat 1.5× above clean-machine runs);
    # each run's wall is recorded in BENCH_DETAIL.json for transparency
    concurrent_runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        with ThreadPoolExecutor(8) as ex:
            list(ex.map(run_one, queries.items()))
        concurrent_runs.append(round(time.perf_counter() - t0, 4))
    concurrent_total = min(concurrent_runs)

    # pass 3: split walls — the DuckDB-comparable subset vs the rows-only
    # EXT/ANN subset (plans already warm from passes 1-2)
    oracles = entrymod.oracle_sql()
    oracle_items = {k: v for k, v in queries.items() if k in oracles}
    rows_only_items = {k: v for k, v in queries.items() if k not in oracles}

    def concurrent_wall(items: dict) -> float:
        if not items:
            return 0.0
        t0 = time.perf_counter()
        with ThreadPoolExecutor(8) as ex:
            list(ex.map(run_one, items.items()))
        return round(time.perf_counter() - t0, 4)

    oracle_wall = concurrent_wall(oracle_items)
    rows_only_wall = concurrent_wall(rows_only_items)

    # DuckDB baseline: identical SQL, identical parquet, in-process.
    # Reported twice: the full oracle set, and the set minus the
    # single-threaded recursive-CTE clustering twin (ext_dedup_clusters)
    # which dominates DuckDB's wall — so the Spark-vs-DuckDB ratio can be
    # read without the recursion skewing it (VERDICT r2 "what's wrong" #4).
    duckdb_sec = None
    duckdb_excl_recursive_sec = None
    _RECURSIVE_ORACLES = {"ext_dedup_clusters", "ext_minhash_dedup_clusters"}
    try:
        import duckdb

        con = duckdb.connect()
        for t in (
            "region nation customer supplier part orders lineitem "
            "events documents embeddings"
        ).split():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        duck_timings = {}
        for name, sql in oracles.items():
            t0 = time.perf_counter()
            con.sql(sql).fetchall()
            duck_timings[name] = round(time.perf_counter() - t0, 4)
        duckdb_sec = round(sum(duck_timings.values()), 4)
        duckdb_excl_recursive_sec = round(
            sum(t for n, t in duck_timings.items() if n not in _RECURSIVE_ORACLES),
            4,
        )
        con.close()
    except Exception as exc:
        print(f"bench: duckdb baseline skipped: {exc}", file=sys.stderr)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    summary = {
        "metric": "all_queries_batch_wall_concurrent8",
        "value": concurrent_total,
        "unit": "sec",
        "sequential_total_sec": sequential_total,
        "oracle_wall_sec": oracle_wall,
        "rows_only_wall_sec": rows_only_wall,
        "duckdb_oracle_sec": duckdb_sec,
        "duckdb_oracle_excl_recursive_sec": duckdb_excl_recursive_sec,
        "n_queries": len(queries),
        "n_oracle_queries": len(oracle_items),
        "sf": sf_val,
    }

    # Full per-query detail: file + first JSON line. The driver captures
    # only the LAST ~2000 chars of stdout and parses the final line —
    # round 2's 90-query line was 2.8 KB and recorded `parsed: null`
    # (round 1's 52-query line fit and parsed). So the detail goes to
    # BENCH_DETAIL.json and an early stdout line, and the FINAL line is
    # kept under the capture window: the compact summary plus as many of
    # the slowest per-query timings as fit in the budget (slowest-first
    # is the deterministic, information-dense choice — the fast tail is
    # in the detail file).
    full = dict(summary)
    full["concurrent_runs_sec"] = concurrent_runs
    full["queries"] = timings
    full["queries_cold"] = cold_timings
    # per-query DuckDB twin timings (detail file only, never the final
    # line): the aggregate baseline swings ~2× with machine state
    # (r5: 71→144 s on the same corpus), so the breakdown is needed to
    # tell a genuinely expensive new twin from session noise
    try:
        full["duckdb_queries"] = duck_timings
    except NameError:
        pass
    print(json.dumps(full, separators=(",", ":")))
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH_DETAIL.json"), "w"
        ) as fh:
            json.dump(full, fh, indent=1, sort_keys=True)
    except OSError as exc:
        print(f"bench: detail file skipped: {exc}", file=sys.stderr)

    LINE_BUDGET = 1700  # driver tail window is 2000 chars; leave margin
    final = dict(summary)
    final["queries_detail"] = "BENCH_DETAIL.json"
    final["queries"] = {}
    base_len = len(json.dumps(final, separators=(",", ":")))
    shown = {}
    for name in sorted(timings, key=lambda n: -timings[n]):
        entry_len = len(name) + 9  # "name":12.34,
        if base_len + entry_len > LINE_BUDGET:
            break
        shown[name] = round(timings[name], 2)
        base_len += entry_len
    final["queries"] = shown
    final["queries_shown"] = len(shown)
    print(json.dumps(final, separators=(",", ":")))


if __name__ == "__main__":
    main()
