"""Benchmark of the batch ETL pipeline and the query surface.

Run from the repository root:

    python3 perfbench/run.py --workload etl --seed 1 --seconds 20 --trace 0

Workloads (inputs are generated from ``--seed`` under ``perfbench/.work``):

* ``etl`` — ``pipeline.run_batch`` (the reference's per-file loop) over
  small CSV files, one of them without the ``ciudad`` column and one with
  a reordered header: a load into an empty warehouse, then an identical
  re-run. The traced run adds ``pipeline.run_directory_combined`` (one
  scan over all files) over larger CSV files that share one header.
* ``queries`` — a fixed set of ``__spark_entry__.queries()`` over
  generated parquet tables.

The end-to-end metrics are CPU seconds (user + system) of the driver JVM,
its Python workers and this process, which a shared host's other guests
inflate far less than walls. ``first_cpu_s`` is what a fresh batch job
pays: the load into an empty warehouse, or the first invocation of each
query, in a JVM that has run none of it before. ``repeat_cpu_s`` is the
same work again in the same session: the identical re-run (which must
insert nothing), or the median of concurrent passes over the queries
(one submitter thread per core, FAIR scheduler, ``noop`` sink), at least
five and until ``--seconds`` have passed. The walls are in the report.
``setup_s`` is the median wall of five session builds (the first
launches the JVM).

Every run checks its outputs: ETL results against a CPython manifest of
the reference semantics, query results against their DuckDB oracle. The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of a traced first cycle or pass with
``--trace 1``. Each run also writes its report (box, every sample,
failures and, when traced, spans and query rankings) to
``perfbench/out/``. See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
OUT = HERE / "out"

WORKLOADS = ("etl", "queries")

#: input sizes per workload; ``--toy`` selects the small ones
SIZES = {
    "etl": {"files": {"files": 4, "rows": 300}, "bulk": {"files": 2, "rows": 12000}},
    "queries": {"queries": None},
}
TOY_SIZES = {
    "etl": {"files": {"files": 2, "rows": 50}, "bulk": {"files": 2, "rows": 50}},
    "queries": {"queries": 3},
}
SETUP_REPEATS = 5
DRIVER_MEMORY = "2g"

END_TO_END = {"setup_s": "s", "first_cpu_s": "s", "repeat_cpu_s": "s"}

#: concurrent passes the queries workload makes at least
MIN_WARM_PASSES = 5

#: every per-layer metric; each workload prints the full set, and layers
#: a workload does not exercise read 0
PER_LAYER = [
    "session.start_s",
    "session.peak_rss_mb",
    "sources.csv.scan_amplification",
    "operators.transform.cascade_s",
    "operators.idempotent.upsert_dimension_s",
    "operators.idempotent.append_s",
    "operators.idempotent.rerun_append_s",
    "pipeline.cold_load_s",
    "pipeline.reject_sink_s",
    "pipeline.load_file_self_s",
    "pipeline.jobs_per_file",
    "pipeline.combined_self_s",
    *[f"plans.{h}.{m}" for h in ("relational", "ext")
      for m in ("cold_s", "build_s", "eager_jobs", "cold_minus_warm_s")],
    "catalyst.plan_s", "catalyst.relational.plan_s", "catalyst.ext.plan_s",
    *[f"{p}.{m}" for p in ("spark", "spark.files", "spark.bulk", "spark.relational", "spark.ext")
      for m in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                "idle_core_frac", "shuffle_write_mb", "shuffle_read_mb", "spill_mb")],
    "trace.overhead_s",
    "trace.self_coverage",
]


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_coverage", "_amplification")):
        return "ratio"
    return "count"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--toy", action="store_true", help="toy input sizes (self-test)")
    p.add_argument(
        "--inject",
        choices=("manifest", "digest", "rerun"),
        help="self-test fault: corrupt a manifest entry, flip a golden "
        "digest, or drop a fact row so the re-run inserts it",
    )
    return p.parse_args(argv)


# ---------------------------------------------------------------------------
# Session lifecycle
# ---------------------------------------------------------------------------


def start_session(work: Path):
    """``session.get_spark`` sized to the box, until a trivial action
    returns. Returns (spark, seconds)."""
    from etl_python_sqlite_spark.session import get_spark

    nproc = os.cpu_count()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.scheduler.mode": "FAIR",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        },
    )
    spark.range(1).count()
    secs = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, secs


def stop_jvm() -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to end
    (its Python workers exit with it)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """Driver JVM ``VmHWM`` plus this process's ``ru_maxrss``."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def box(spark) -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": os.cpu_count(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def tree_cpu_s() -> float:
    """CPU seconds (user + system) this process and its descendants have
    used: the launcher, the driver JVM and its Python workers. Exited
    children count once reaped, in their parent's ``cutime``/``cstime``.
    Unlike a wall, it does not grow while a shared host runs other
    guests."""
    stats = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            f = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:  # the process ended meanwhile
            continue
        stats[int(stat.parent.name)] = (int(f[1]), sum(map(int, f[11:15])))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    todo, ticks = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo += kids.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def spark_metrics(out: dict, prefix: str, t: dict, wall: float) -> None:
    for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        out[f"{prefix}.{k}"] = t[k]
    out[f"{prefix}.idle_core_frac"] = 1 - t["task_run_s"] / (wall * os.cpu_count())


# ---------------------------------------------------------------------------
# ETL workloads
# ---------------------------------------------------------------------------


#: the pipeline entry points a cycle of the etl workload runs, in order:
#: (label, function in ``pipeline``, input has odd headers)
ETL_PATHS = (("files", "run_batch", True), ("bulk", "run_directory_combined", False))


class EtlBench:
    """Cycles of the pipeline: for each entry point, a load into an empty
    warehouse and an identical re-run, each checked against the manifest.
    An operation is one file of a load, or one re-run."""

    def __init__(self, spark, batches: dict, work: Path, inject: str | None):
        from etl_python_sqlite_spark import pipeline

        self.spark, self.batches, self.work, self.inject = spark, batches, work, inject
        self.pipeline = pipeline
        self.cycles = 0
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []

    def _run(self, fn: str, cfg, tracer, **attrs) -> tuple[float, float]:
        """Returns the wall and the CPU seconds of one pipeline call."""
        run = getattr(self.pipeline, fn)
        c0, t0 = tree_cpu_s(), time.perf_counter()
        if tracer is None:
            run(self.spark, cfg)
        else:
            with tracer.span(f"pipeline.{fn}", **attrs):
                run(self.spark, cfg)
        return time.perf_counter() - t0, tree_cpu_s() - c0

    def cycle(self, paths=ETL_PATHS, tracer=None) -> dict[tuple[str, str], tuple[float, float]]:
        """One cycle over ``paths``; returns {(path, "load" | "rerun"):
        (wall, CPU seconds)}. With ``tracer`` each run is a root span over
        the pipeline's spans."""
        import etl_inputs as EI

        self.cycles += 1
        runs = {}
        for path, fn, _ in paths:
            batch = self.batches[path]
            wh = self.work / f"warehouse-{path}-{self.cycles}"
            rej = self.work / f"rejected-{path}-{self.cycles}"
            cfg = self.pipeline.PipelineConfig(
                data_in=str(batch.data_in), data_rejected=str(rej), warehouse=str(wh)
            )
            runs[path, "load"] = self._run(fn, cfg, tracer, path=path, phase="load")
            audit = EI.read_audit(wh)
            load_ids = {r["run_id"] for r in audit}
            self.failures += [(f"{path}/{op}", m) for op, m in EI.check_load(batch, wh, rej, audit)]
            self.attempted += len(batch.files)
            if self.inject == "rerun":
                drop_one_fact_row(wh)

            runs[path, "rerun"] = self._run(fn, cfg, tracer, path=path, phase="rerun")
            audit = [r for r in EI.read_audit(wh) if r["run_id"] not in load_ids]
            self.failures += [(f"{path}/{op}", m) for op, m in EI.check_rerun(batch, wh, rej, audit)]
            self.attempted += 1
            shutil.rmtree(wh, ignore_errors=True)
            shutil.rmtree(rej, ignore_errors=True)
        return runs

    @property
    def failed(self) -> int:
        return len({op for op, _ in self.failures})


def drop_one_fact_row(warehouse: Path) -> None:
    import pyarrow.parquet as pq

    part = max((warehouse / "personas_limpias").glob("part-*.parquet"), key=lambda p: p.stat().st_size)
    pq.write_table(pq.read_table(part).slice(1), part)
    # the local filesystem would reject the rewritten file against its checksum
    (part.parent / f".{part.name}.crc").unlink(missing_ok=True)


def etl_traced_cycle(bench: EtlBench, tracer, out: dict) -> dict:
    """The first cycle with a span on every public layer function the
    pipeline calls; fills the ETL per-layer metrics into ``out``."""
    from etl_python_sqlite_spark import pipeline
    from etl_python_sqlite_spark.operators import transform
    from etl_python_sqlite_spark.sources import csv as csv_src

    # pipeline.py binds the operator functions at import time, so wrap
    # the names in its namespace; run_directory_combined imports
    # annotate_rejections / read_csv_directory at call time, so wrap
    # those in their own modules
    wrapped = [
        (pipeline, "read_csv_all_string", "sources.csv.read_csv_all_string"),
        (csv_src, "read_csv_directory", "sources.csv.read_csv_directory"),
        (pipeline, "transform_with_rejections", "operators.transform.transform_with_rejections"),
        (transform, "annotate_rejections", "operators.transform.annotate_rejections"),
        (pipeline, "write_rejects_csv", "pipeline.write_rejects_csv"),
        (pipeline, "write_rejects_csv_by_file", "pipeline.write_rejects_csv_by_file"),
        (pipeline, "load_file", "pipeline.load_file"),
        (pipeline, "upsert_dimension", "operators.idempotent.upsert_dimension"),
        (pipeline, "idempotent_append", "operators.idempotent.idempotent_append"),
    ]
    undo = [tracer.wrap(m, attr, name) for m, attr, name in wrapped]
    try:
        walls = {k: wall for k, (wall, _) in bench.cycle(tracer=tracer).items()}
    finally:
        for u in reversed(undo):
            u()

    by_id = {s["id"]: s for s in tracer.spans}

    def root(span):
        while span["parent"] is not None:
            span = by_id[span["parent"]]
        return span["path"], span["phase"]

    def totals(path, phase=None, *names):
        return tracer.totals(
            lambda s: root(s)[0] == path
            and (phase is None or root(s)[1] == phase)
            and (not names or s["name"] in names)
        )

    files = totals("files", "load")
    out.update({
        "pipeline.cold_load_s": walls["files", "load"],
        "sources.csv.scan_amplification": files["input_records"] / bench.batches["files"].csv_rows,
        "pipeline.reject_sink_s": totals("files", "load", "pipeline.write_rejects_csv")["self_s"],
        "pipeline.load_file_self_s": totals("files", "load", "pipeline.load_file")["self_s"],
        "pipeline.jobs_per_file": files["jobs"] / len(bench.batches["files"].files),
        "pipeline.combined_self_s": totals("bulk", "load", "pipeline.run_directory_combined")["self_s"],
        "operators.idempotent.upsert_dimension_s": totals(
            "bulk", "load", "operators.idempotent.upsert_dimension"
        )["self_s"],
        "operators.idempotent.append_s": totals("bulk", "load", "operators.idempotent.idempotent_append")["self_s"],
        "operators.idempotent.rerun_append_s": totals(
            "bulk", "rerun", "operators.idempotent.idempotent_append"
        )["self_s"],
    })
    load_s = sum(v for (_, phase), v in walls.items() if phase == "load")
    out["trace.self_coverage"] = (
        tracer.totals(lambda s: root(s)[1] == "load")["self_s"] / load_s
    )
    for path, _, _ in ETL_PATHS:
        spark_metrics(out, f"spark.{path}", totals(path), walls[path, "load"] + walls[path, "rerun"])
    spark_metrics(out, "spark", tracer.totals(), sum(walls.values()))

    # the validate cascade alone: one noop action over the combined scan
    t0 = time.perf_counter()
    glob = str(bench.batches["bulk"].data_in / "*.csv")
    transform.annotate_rejections(csv_src.read_csv_directory(bench.spark, glob)).write.format(
        "noop"
    ).mode("overwrite").save()
    out["operators.transform.cascade_s"] = time.perf_counter() - t0
    return walls


# ---------------------------------------------------------------------------
# Queries workload
# ---------------------------------------------------------------------------


class QueryBench:
    """Runs of a fixed query set; an operation is one query invocation."""

    def __init__(self, spark, sf_dir: Path, names: list[str], expected: dict):
        import __spark_entry__ as entry

        self.spark, self.sf = spark, str(sf_dir)
        fns = entry.queries()
        self.items = [(n, fns[n]) for n in names]
        self.expected = expected
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []
        #: CPU seconds of the timed parts of ``cpu=True`` invocations
        self.timed_cpu_s = 0.0
        self._lock = threading.Lock()

    def _fail(self, name: str, msg: str) -> None:
        with self._lock:
            self.failures.append((name, msg))

    def run_one(self, name, fn, tracer=None, check=False, cpu=False) -> float | None:
        """Build the query and force it with the ``noop`` sink; returns
        the latency, or None if it raised. With ``tracer`` the query
        function and its write are spans; with ``check`` the result is
        collected (off the clock) and compared with the oracle digest;
        with ``cpu`` (sequential use only) the CPU seconds of the timed
        part are added to ``timed_cpu_s``."""
        from query_inputs import digest
        from spans import catalyst_plan_s

        with self._lock:
            self.attempted += 1
        half = "ext" if name.startswith("ext_") else "relational"
        c0 = tree_cpu_s() if cpu else 0.0
        t0 = time.perf_counter()
        try:
            if tracer is None:
                df = fn(self.spark, self.sf)
                df.write.format("noop").mode("overwrite").save()
            else:
                with tracer.span(f"plans.{half}.{name}", half=half, query=name) as span:
                    df = fn(self.spark, self.sf)
                    span["build_s"] = time.perf_counter() - span["start"]
                    with tracer.span(f"plans.{half}.{name}.noop", half=half, query=name):
                        df.write.format("noop").mode("overwrite").save()
            secs = time.perf_counter() - t0
            if cpu:
                self.timed_cpu_s += tree_cpu_s() - c0
            if tracer is not None:
                span["catalyst_plan_s"] = catalyst_plan_s(df)
            if check and (got := digest(df.toPandas())) != self.expected[name]:
                self._fail(name, f"digest {got} != oracle {self.expected[name]}")
        except Exception as exc:  # a failing query is counted, not fatal
            self._fail(name, f"raised {type(exc).__name__}: {str(exc)[:300]}")
            return None
        return secs

    def sequential_pass(self, tracer=None, check=False, cpu=False) -> dict[str, float | None]:
        return {n: self.run_one(n, fn, tracer, check, cpu) for n, fn in self.items}

    def concurrent_pass(self, threads: int) -> tuple[float, float]:
        """Returns the wall and the CPU seconds of one pass."""
        c0, t0 = tree_cpu_s(), time.perf_counter()
        with ThreadPoolExecutor(threads) as ex:
            list(ex.map(lambda item: self.run_one(*item), self.items))
        return time.perf_counter() - t0, tree_cpu_s() - c0

    @property
    def failed(self) -> int:
        return len(self.failures)


def query_layers(tracer, warm: dict, job_floor_s: float, out: dict, report: dict) -> None:
    """Per-layer metrics and the three rankings from the traced cold pass
    (``warm``: untraced sequential latencies of the same queries)."""
    kids: dict[int, list] = {}
    for s in tracer.spans:
        kids.setdefault(s["parent"], []).append(s)
    profile = []
    for s in kids.get(None, []):
        spans = [s, *kids.get(s["id"], [])]
        lat = s["end"] - s["start"]
        jobs = sum(k["jobs"] for k in spans)
        cpu = sum(k["task_cpu_s"] for k in spans)
        profile.append({
            "query": s["query"], "half": s["half"], "latency_s": lat,
            # a query that raised has no build time or plan
            "warm_s": warm.get(s["query"]), "build_s": s.get("build_s", lat),
            "eager_jobs": s["jobs"], "jobs": jobs,
            "task_run_s": sum(k["task_run_s"] for k in spans), "task_cpu_s": cpu,
            "catalyst_plan_s": s.get("catalyst_plan_s", 0.0),
            # ROADMAP item 1's rankings
            "overhead_share": min(1.0, jobs * job_floor_s / lat),
            "cpu_per_wall": cpu / lat,
            "driver_share": s.get("build_s", lat) / lat,
        })
    report["profile"] = profile
    report["rankings"] = {
        key: [p["query"] for p in sorted(profile, key=lambda p: -p[key])]
        for key in ("overhead_share", "cpu_per_wall", "driver_share")
    }
    for half in ("relational", "ext"):
        rows = [p for p in profile if p["half"] == half]
        cold_s = sum(p["latency_s"] for p in rows)
        out[f"plans.{half}.cold_s"] = cold_s
        out[f"plans.{half}.build_s"] = sum(p["build_s"] for p in rows)
        out[f"plans.{half}.eager_jobs"] = sum(p["eager_jobs"] for p in rows)
        out[f"plans.{half}.cold_minus_warm_s"] = cold_s - sum(p["warm_s"] or 0 for p in rows)
        out[f"catalyst.{half}.plan_s"] = sum(p["catalyst_plan_s"] for p in rows)
        if rows:
            spark_metrics(out, f"spark.{half}", tracer.totals(lambda s, h=half: s["half"] == h), cold_s)
    out["catalyst.plan_s"] = out["catalyst.relational.plan_s"] + out["catalyst.ext.plan_s"]
    cold_s = out["plans.relational.cold_s"] + out["plans.ext.cold_s"]
    everything = tracer.totals()
    spark_metrics(out, "spark", everything, cold_s)
    out["trace.self_coverage"] = everything["self_s"] / cold_s


# ---------------------------------------------------------------------------
# Driver
# ---------------------------------------------------------------------------


def bench(args, work: Path) -> tuple[dict, dict]:
    """Generate inputs, set up, measure; returns (result line, report)."""
    import etl_inputs as EI
    import query_inputs as QI
    from spans import Tracer

    sizes = (TOY_SIZES if args.toy else SIZES)[args.workload]
    stamp = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "sizes": sizes}

    # -- inputs, before the clock: the program sees only the files -------
    if args.workload == "queries":
        import __spark_entry__ as entry

        sf_dir = work / "tables"
        QI.generate(sf_dir, args.seed)
        names = [*QI.RELATIONAL, *QI.EXT][: sizes["queries"]]
        expected = QI.oracle_digests(sf_dir, entry.oracle_sql(), names)
        if args.inject == "digest":
            rows, h = expected[names[0]]
            expected[names[0]] = (rows, h[::-1])
        stamp["testdata_fingerprint"] = QI.fingerprint(sf_dir)
    else:
        # the bulk path runs only in the traced cycle (see NOTES.md)
        paths = ETL_PATHS if args.trace else ETL_PATHS[:1]
        batches = {
            path: EI.generate(
                work / f"in-{path}", args.seed, sizes[path]["files"], sizes[path]["rows"], odd
            )
            for path, _, odd in paths
        }
        if args.inject == "manifest":
            batches["files"].files[0].valid += 1
        stamp["csv_rows"] = {path: b.csv_rows for path, b in batches.items()}

    # -- set-up: the first build launches the JVM, the others reuse it ---
    starts = []
    for i in range(SETUP_REPEATS):
        if i:
            spark.stop()
        spark, secs = start_session(work)
        starts.append(secs)
    stamp.update(box(spark))
    metrics = {"setup_s": statistics.median(starts)}
    layer = dict.fromkeys(PER_LAYER, 0.0)
    layer["session.start_s"] = starts[0]
    report: dict = {"setup_walls": starts}
    tracer = Tracer(spark, f"{args.workload}-seed{args.seed}") if args.trace else None

    # -- measurement -----------------------------------------------------
    deadline = time.perf_counter() + args.seconds
    if args.workload == "queries":
        wb = QueryBench(spark, sf_dir, names, expected)
        cold = wb.sequential_pass(tracer, check=True, cpu=True)
        metrics["first_cpu_s"] = wb.timed_cpu_s
        metrics["first_wall_s"] = sum(v for v in cold.values() if v is not None)
        report["cold_latencies"] = cold
        if tracer:
            warm = wb.sequential_pass()
            report["job_floor_s"] = statistics.median(_job_floor(spark) for _ in range(5))
            query_layers(tracer, warm, report["job_floor_s"], layer, report)
        else:
            passes = []
            while len(passes) < MIN_WARM_PASSES or time.perf_counter() < deadline:
                passes.append(wb.concurrent_pass(os.cpu_count()))
            metrics["repeat_cpu_s"] = statistics.median(c for _, c in passes)
            metrics["repeat_wall_s"] = statistics.median(w for w, _ in passes)
            report["warm_passes"] = passes
    else:
        wb = EtlBench(spark, batches, work, args.inject)
        if tracer:
            walls = etl_traced_cycle(wb, tracer, layer)
            report["cycles"] = [{f"{p}.{ph}": v for (p, ph), v in walls.items()}]
        else:
            # the per-file path only; its first load is the JVM's first
            # pipeline work
            cycles = [wb.cycle(paths)]
            while time.perf_counter() < deadline:
                cycles.append(wb.cycle(paths))
            metrics["first_wall_s"], metrics["first_cpu_s"] = cycles[0]["files", "load"]
            metrics["repeat_wall_s"] = statistics.median(c["files", "rerun"][0] for c in cycles)
            metrics["repeat_cpu_s"] = statistics.median(c["files", "rerun"][1] for c in cycles)
            report["cycles"] = [{f"{p}.{ph}": v for (p, ph), v in c.items()} for c in cycles]
    layer["session.peak_rss_mb"] = peak_rss_mb(spark)

    if tracer:
        layer["trace.overhead_s"] = tracer.overhead_s
        shown = {k: {"value": v, "unit": layer_unit(k)} for k, v in layer.items()}
        report["spans"] = tracer.span_records()
    else:
        shown = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    result = {
        "correct": wb.failed == 0,
        "attempted": wb.attempted,
        "failed": wb.failed,
        "metrics": shown,
    }
    report.update(stamp=stamp, result=result, metrics=metrics, failures=wb.failures)
    return result, report


def _job_floor(spark) -> float:
    """Wall of one trivial Spark job: the per-action floor."""
    t0 = time.perf_counter()
    spark.range(1).count()
    return time.perf_counter() - t0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "etl_python_sqlite_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: engine sources not found in {ROOT}", file=sys.stderr)
        return 2
    work = WORK / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # Python workers import the package from the checkout; temporary
    # and shuffle files stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM spark-submit starts, the launcher included: temp files in
    # the work dir, no perf-data file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        result, report = bench(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    OUT.mkdir(exist_ok=True)
    kind = "trace" if args.trace else "result"
    (OUT / f"{kind}_{args.workload}_seed{args.seed}.json").write_text(json.dumps(report, indent=1))
    for op, msg in report["failures"][:20]:
        print(f"perfbench: FAILED {op}: {msg}", file=sys.stderr)
    print(f"perfbench: {json.dumps(report['stamp'])}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
