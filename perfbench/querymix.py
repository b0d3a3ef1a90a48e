"""``query_mix``: the analytics surface, no CDC streaming code.

One client runs the mix in a fixed order, closed loop. The first pass is
the warm-up and counts toward ``setup_s`` (it builds the session memos and
JIT-compiles the plans). Then whole rounds run until ``seconds`` has
passed, and at least MIN_ROUNDS of them. Each timed execution spans the
query builder call (where the driver-bound queries run their eager jobs)
to the result fully collected on the driver. Every figure is built from
per-query medians over the rounds, so one slow execution moves nothing.
Every timed result is compared, after the window, with the query's DuckDB
oracle: row count, column names and the order-insensitive normalized
values, as the repository's correctness gate does.
"""

from __future__ import annotations

import sys
import time
import traceback

import inputs
from common import ROOT, Run, median

SF = 0.02
MIN_ROUNDS = 3

# One query per query module. Executor-bound: scans, joins, windows and
# aggregations over the TPC-H-like tables; the median of their per-query
# medians is ``read_p50_s``.
EXECUTOR_BOUND = (
    "q01_pricing_summary",
    "q09_product_profit",
    "q30_running_order_totals",
    "qx62_grouped_mode",
    "q71_cdc_merge_changelog",
    "q82_token_counting",
)
# Driver-bound or iterative: most of their time is eager jobs launched from
# the builder call, fixpoint loops, session memos and streaming drains.
DRIVER_BOUND = (
    "qx66_kcore_decomposition",
    "q76_kmeans_lloyd",
    "q98_neardup_clusters",
    "qx13_store_change_feed",
)
MIX = EXECUTOR_BOUND + DRIVER_BOUND


def _check_tools():
    """``register_oracle_views``/``normalize`` from the correctness gate."""
    saved = list(sys.path)
    sys.path.insert(0, f"{ROOT}/tools")
    try:
        import check_correctness
    finally:
        sys.path[:] = saved
    return check_correctness


def _oracle_results(sf_dir: str, gate) -> dict:
    import duckdb

    from kafka2delta_spark.queryset import ORACLES

    con = duckdb.connect()
    try:
        gate.register_oracle_views(con, sf_dir)
        out = {}
        for name in MIX:
            odf = con.execute(ORACLES[name]).fetchdf()
            cols = sorted(odf.columns)
            out[name] = (cols, len(odf), gate.normalize(odf, cols))
        return out
    finally:
        con.close()


def _matches(gate, pdf, want) -> bool:
    cols, n, rows = want
    return sorted(pdf.columns) == cols and len(pdf) == n and gate.normalize(pdf, cols) == rows


def module_of(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def query_mix(run: Run, fault: str) -> dict:
    from kafka2delta_spark.queryset import QUERIES, load_all_querysets

    gate = _check_tools()
    load_all_querysets()
    with run.excluded():
        sf_dir = inputs.analytics_tables(run.seed, SF)
        oracle = _oracle_results(sf_dir, gate)
    spark = run.session()
    run.log("session built")
    cold = {}
    for name in MIX:  # warm-up pass, part of set-up
        a = time.perf_counter()
        QUERIES[name](spark, sf_dir).toPandas()
        cold[name] = time.perf_counter() - a
    run.setup_done()

    times: dict[str, list[float]] = {n: [] for n in MIX}
    results = []
    t0 = time.monotonic()
    rounds = 0
    while rounds < MIN_ROUNDS or time.monotonic() - t0 < run.seconds:
        rounds += 1
        for name in MIX:
            a = time.perf_counter()
            try:
                pdf = QUERIES[name](spark, sf_dir).toPandas()
            except Exception:  # a query that raises counts as failed
                run.attempted += 1
                run.failed += 1
                run.log(f"{name} raised:\n{traceback.format_exc()}")
                continue
            times[name].append(time.perf_counter() - a)
            results.append((name, pdf))
    run.log(f"{rounds} timed rounds")
    run.log("cold/warm s: " + ", ".join(
        f"{n} {cold[n]:.2f}/{median(times[n]):.2f}" for n in MIX))

    with run.excluded():
        for i, (name, pdf) in enumerate(results):
            run.attempted += 1
            if fault == "query" and i == 0:  # a wrong result must be caught
                pdf = pdf.iloc[1:]
            if not run.check(_matches(gate, pdf, oracle[name]), f"{name} result != oracle"):
                run.failed += 1

    if run.trace:
        trace_queries(run, QUERIES, sf_dir, times)
    per_query = {n: median(v) for n, v in times.items()}
    return {
        "ops_per_s": (len(MIX) / sum(per_query.values()), "1/s"),
        "latency_p50_s": (median(per_query.values()), "s"),
        "read_p50_s": (median(per_query[n] for n in EXECUTOR_BOUND), "s"),
    }


def trace_queries(run: Run, QUERIES, sf_dir: str, times: dict) -> None:
    """One traced execution per query: builder call and collection timed
    apart, jobs and stage counters summed per query module."""
    spark = run.spark
    spans = []
    for name in MIX:
        with run.span(name) as plan:
            df = QUERIES[name](spark, sf_dir)
        with run.span(name) as exe:
            df.toPandas()
        spans.append((module_of(QUERIES[name]), plan, exe))
    jobs = run.stage_metrics()
    acc: dict[str, float] = {}
    traced_ms = 0.0
    for module, plan, exe in spans:
        tot = run.span_totals(jobs, plan)
        for k, v in run.span_totals(jobs, exe).items():
            tot[k] += v
        wall = plan.ms + exe.ms
        traced_ms += wall
        for k, v in (("plan_ms", plan.ms), ("exec_ms", exe.ms), ("jobs", tot["jobs"]),
                     ("tasks", tot["tasks"]), ("executor_run_ms", tot["run_ms"]),
                     ("shuffle_bytes", tot["shuffle_bytes"]),
                     ("driver_gap_ms", wall - tot["run_ms"] / run.cores)):
            acc[f"{module}.{k}"] = acc.get(f"{module}.{k}", 0.0) + v
    run.layer.update(acc)
    untraced_ms = 1000.0 * sum(median(v) for v in times.values())
    run.layer["trace.overhead_ratio"] = traced_ms / untraced_ms
