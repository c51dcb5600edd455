#!/usr/bin/env python3
"""sparkflare benchmark.

    python3 perfbench/run.py --workload interactive_sql --seed 1 --seconds 8 --trace 0

Generates the workload's inputs from ``--seed``, sets up a local[nproc]
session (timed: session start, hot-table caching, warm-up; done twice,
the first also launching the JVM, and the second reported), then runs the workload's operations in a closed loop for
``--seconds``, checks every output in an untimed gate, and prints as its
last stdout line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs half of the
time untraced and half traced (spans around each layer call, Spark status
store per operation) and reports the per-layer metrics, including
``trace.overhead_ratio``. The line before the result carries the full
report (``{"report": ...}``). See README.md for what every metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the first set-up also launches the JVM and compiles everything for the
# first time; setup_s is the median of the rest. Two in all keep a run
# under a minute even when the host runs slow.
SETUPS = 2

E2E = {
    "setup_s": "s", "wall_s": "s", "query_p50_s": "s", "query_p90_s": "s",
    "rows_per_s": "1/s",
}
# also printed, with units, on the report line; not in BENCHMARK.json (see
# README.md: workload-specific, or too unsteady, or always 0)
REPORTED = {
    **E2E, "crawl_records_per_s": "1/s", "d1_write_rows_per_s": "1/s",
    "d1_scan_rows_per_s": "1/s", "peak_rss_mb": "MB", "error_rate": "ratio",
}
LAYERS = {
    "session.start_s": "s", "queries.cache_tables_s": "s",
    "queries.cached_partitions": "count", "queries.build_s": "s",
    "compat.duck_sql_s": "s", "plans.optimize_s": "s", "plans.shuffles": "count",
    "plans.codegen_stages": "count", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.task_skew": "ratio", "spark.driver_s": "s",
    "operators.python_rows": "count", "operators.python_sent_mb": "MB",
    "operators.python_returned_mb": "MB", "operators.dedup_s": "s",
    "operators.similarity_s": "s", "operators.text_analysis_s": "s",
    "operators.multimodal_s": "s", "sources.partitions": "count",
    "sources.plan_s": "s", "sources.read_s": "s", "sources.rows_per_s": "1/s",
    "sources.filters_absorbed_ratio": "ratio", "sources.rows_kept_ratio": "ratio",
    "http.requests": "count", "http.mb": "MB", "http.fetch_s": "s",
    "http.retries": "count", "warc.records": "count", "warc.gunzip_s": "s",
    "warc.parse_s": "s", "warc.decompressed_mb": "MB", "catalog.d1_posts": "count",
    "catalog.d1_statements_per_post": "count", "catalog.d1_rows_per_statement": "count",
    "catalog.d1_client_s": "s", "catalog.d1_server_s": "s", "write.files": "count",
    "write.mb": "MB", "write.s": "s", "trace.overhead_ratio": "ratio",
}


def driver_memory() -> str:
    """A quarter of physical memory, between 1 and 4 GiB."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, total // (4 << 30)))}g"


def start_session(nproc: int, work: str):
    from duckdb_cloudflare_spark.session import get_spark

    return get_spark("perfbench", master=f"local[{nproc}]", extra_conf={
        "spark.sql.shuffle.partitions": str(nproc),
        # bench.py's session shape: static plans, parallelism from caching
        "spark.sql.adaptive.enabled": "false",
        "spark.duckdb_cloudflare.assumeParallel": "true",
        "spark.driver.memory": driver_memory(),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        # keep every job/stage/execution of a run readable in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    })


def shutdown_jvm() -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


@contextmanager
def traced_duck_sql(spans):
    """Time ``compat.duck_sql`` (queries import it at call time)."""
    from duckdb_cloudflare_spark import compat

    orig = compat.duck_sql

    def duck_sql(*a, **kw):
        with spans.span("compat.duck_sql"):
            return orig(*a, **kw)

    compat.duck_sql = duck_sql
    try:
        yield
    finally:
        compat.duck_sql = orig


class Phase:
    """One closed-loop phase: operations run one at a time, each pass in the
    workload's fixed order."""

    def __init__(self) -> None:
        self.latency: dict[str, list[float]] = defaultdict(list)
        self.rows: dict[str, list[int]] = defaultdict(list)
        self.pass_walls: list[float] = []
        self.layers: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.next_pass = 0


def run_phase(wl, spark, seconds: float, first_pass: int, traced: bool,
              whole_passes: bool) -> Phase:
    from instrument import NullSpans, SparkCollector, Spans
    from workloads import Tracer

    ph = Phase()
    collector = SparkCollector(spark) if traced else None
    deadline = time.perf_counter() + seconds
    pass_no = first_pass
    while True:
        spans = Spans() if traced else NullSpans()
        tr = Tracer(spans, traced)
        op_metrics: list[dict] = []
        t0 = time.perf_counter()
        complete = True
        with traced_duck_sql(spans) if traced else nullcontext():
            for name in wl.ops:
                if ph.pass_walls and not whole_passes and time.perf_counter() >= deadline:
                    complete = False
                    break
                ph.attempted += 1
                m: dict = {}
                a = time.perf_counter()
                try:
                    with collector.operation(name, m) if traced else nullcontext():
                        n = wl.run_op(spark, name, tr, pass_no)
                except Exception as exc:  # counted, reported, never fatal
                    ph.failed += 1
                    ph.errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
                    print(f"perfbench: {ph.errors[-1]}", file=sys.stderr)
                    complete = False
                    if wl.dependent_steps:
                        break
                    continue
                lat = time.perf_counter() - a
                ph.latency[name].append(lat)
                ph.rows[name].append(n)
                if traced:
                    m["_wall"] = lat
                    m["_family"] = wl.op_family(name)
                    m["_name"] = name
                    op_metrics.append(m)
        wl.end_pass()
        if complete:
            ph.pass_walls.append(time.perf_counter() - t0)
            if traced:
                ph.layers.append(pass_layers(tr, spans, op_metrics))
        pass_no += 1
        if time.perf_counter() >= deadline:
            break
    ph.next_pass = pass_no
    return ph


def pass_layers(tr, spans, ops: list[dict]) -> dict:
    """Per-layer values of one traced pass."""
    from instrument import SparkCollector

    out = {k: 0.0 for k in SparkCollector.STAGE_KEYS}
    for m in ops:
        for k in SparkCollector.STAGE_KEYS:
            if k != "spark.task_skew":
                out[k] += m.get(k, 0.0)
        fam = m["_family"]
        if fam:
            key = f"operators.{fam}_s"
            out[key] = out.get(key, 0.0) + m["_wall"]
    skews = [m["spark.task_skew"] for m in ops if "spark.task_skew" in m]
    out["spark.task_skew"] = statistics.fmean(skews) if skews else 1.0
    out["queries.build_s"] = spans.self_s.get("queries.build", 0.0)
    out["compat.duck_sql_s"] = spans.total_s.get("compat.duck_sql", 0.0)
    out["plans.optimize_s"] = spans.total_s.get("plans.optimize", 0.0)
    out["write.s"] = spans.total_s.get("write.sized_parquet", 0.0)
    v = tr.values
    for k in ("plans.shuffles", "plans.codegen_stages", "write.files", "write.mb",
              "catalog.d1_posts", "catalog.d1_server_s"):
        out[k] = v.get(k, 0.0)
    if v.get("catalog.d1_posts"):
        out["catalog.d1_statements_per_post"] = v["catalog.d1_statements"] / v["catalog.d1_posts"]
    if v.get("catalog.d1_write_statements"):
        out["catalog.d1_rows_per_statement"] = (
            v["catalog.rows_written"] / v["catalog.d1_write_statements"])
    d1_wall = sum(m["_wall"] for m in ops if m["_name"] in ("d1_write", "d1_scan"))
    if d1_wall:
        out["catalog.d1_client_s"] = max(0.0, d1_wall - v.get("catalog.d1_server_s", 0.0))
    return out


def pct(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def end_to_end(ph: Phase, setup: list[float], peak_kb: int) -> dict:
    """End-to-end values from per-operation medians over the timed phase,
    so that one slow pass (the first one pays Spark's code generation) or
    one slow spell of the host moves them little."""
    lat = {k: statistics.median(v) for k, v in ph.latency.items()}
    rows = {k: statistics.median(v) for k, v in ph.rows.items()}
    per_op = list(lat.values()) or [float("nan")]
    wall = sum(lat.values()) or float("nan")
    return {
        "setup_s": statistics.median(setup[1:]),
        "wall_s": wall,
        "query_p50_s": statistics.median(per_op),
        "query_p90_s": pct(per_op, 90),
        "rows_per_s": sum(rows.values()) / wall,
        "peak_rss_mb": peak_kb / 1024.0,
    }


def crawl_rates(ph: Phase) -> dict:
    """The crawl workload's throughputs, from per-step medians."""
    med = {k: statistics.median(v) for k, v in ph.latency.items()}
    rows = {k: statistics.median(v) for k, v in ph.rows.items()}
    out = {}
    scan = ("cc_scan", "wayback_scan", "extract", "write_parquet")
    if all(k in med for k in scan):
        out["crawl_records_per_s"] = (rows["cc_scan"] + rows["wayback_scan"]) / sum(
            med[k] for k in scan)
    for op, key in (("d1_write", "d1_write_rows_per_s"), ("d1_scan", "d1_scan_rows_per_s")):
        if op in med:
            out[key] = rows[op] / med[op]
    return out


def run(args, work: str, nproc: int) -> tuple[dict, int, int, list[str], dict]:
    from instrument import RssSampler
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](work, args.seed, nproc)
    try:
        wl.generate()
        exclude = {wl.server.pid} if getattr(wl, "server", None) else set()
        setup, session_s, cache_s, parts = [], [], [], 0
        with RssSampler(exclude=exclude) as rss:
            for i in range(SETUPS):
                t0 = time.perf_counter()
                spark = start_session(nproc, work)
                t1 = time.perf_counter()
                parts = wl.cache(spark)
                t2 = time.perf_counter()
                wl.warm(spark)
                setup.append(time.perf_counter() - t0)
                session_s.append(t1 - t0)
                cache_s.append(t2 - t1)
                if i < SETUPS - 1:
                    wl.release(spark)
                    spark.stop()
            if args.trace:
                # one discarded pass first, so that the untraced and the
                # traced passes compared below are equally warm
                warm = run_phase(wl, spark, 0, 0, False, True)
                plain = run_phase(wl, spark, args.seconds / 2, warm.next_pass, False, True)
                traced = run_phase(wl, spark, args.seconds / 2, plain.next_pass, True, True)
                phases = [warm, plain, traced]
            else:
                plain = run_phase(wl, spark, args.seconds, 0, False, False)
                phases = [plain]
        report = end_to_end(plain, setup, rss.peak_kb)
        report["samples"] = sum(len(v) for v in plain.latency.values())
        report["pass_walls_s"] = plain.pass_walls
        report["setups_s"] = setup
        report["session_start_s"] = session_s
        report["cache_tables_s"] = cache_s
        report["op_median_s"] = {k: round(statistics.median(v), 4)
                                 for k, v in sorted(plain.latency.items())}
        if args.workload == "crawl_to_d1":
            report.update(crawl_rates(plain))
        layers = {}
        if args.trace:
            keys = set().union(*traced.layers) if traced.layers else set()
            for k in keys:
                layers[k] = statistics.fmean(p.get(k, 0.0) for p in traced.layers)
            layers["session.start_s"] = statistics.median(session_s[1:])
            layers["queries.cache_tables_s"] = statistics.median(cache_s[1:])
            layers["queries.cached_partitions"] = parts
            layers["trace.overhead_ratio"] = (
                statistics.median(traced.pass_walls) / statistics.median(plain.pass_walls))
            if hasattr(wl, "drive_sources"):
                layers.update(wl.drive_sources(spark))
            for k in LAYERS:
                layers.setdefault(k, 0.0)
        t0 = time.perf_counter()
        checked, gate_errors = wl.check()
        report["gate_s"] = time.perf_counter() - t0
        attempted = sum(p.attempted for p in phases) + checked
        failed = sum(p.failed for p in phases) + len(gate_errors)
        errors = [e for p in phases for e in p.errors] + gate_errors
        report["error_rate"] = failed / attempted if attempted else 1.0
        return report, attempted, failed, errors, layers
    finally:
        wl.close()


def finite(v: float) -> float:
    """Metrics of a run in which every operation failed may be NaN; the
    result line stays valid JSON (the run is reported incorrect anyway)."""
    return v if v == v and abs(v) != float("inf") else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["interactive_sql", "corpus_sf1", "crawl_to_d1"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import duckdb_cloudflare_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine under test: {exc}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python workers import the library and this package; temp files and
    # Spark scratch stay inside the checkout; loopback D1 bypasses proxies
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["no_proxy"] = os.environ["NO_PROXY"] = "127.0.0.1,localhost"
    try:
        report, attempted, failed, errors, layers = run(args, work, nproc)
    finally:
        try:
            shutdown_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass
    for e in errors[:20]:
        print(f"perfbench: {e}", file=sys.stderr)
    values, units = (layers, LAYERS) if args.trace else (report, E2E)
    metrics = {k: {"value": finite(values[k]), "unit": u} for k, u in units.items()}
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "nproc": nproc,
        "end_to_end": {k: {"value": finite(report[k]), "unit": u}
                       for k, u in REPORTED.items() if k in report},
        "report": {**report, **layers},
    }))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
