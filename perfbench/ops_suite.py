"""ops_suite: one pass over the training-data operator queries.

Runs metrics.OPS_QUERIES from the queries.QUERIES registry, in a fixed
order, over seeded synthetic tables (opsdata.py), collecting each query's
result to the driver; after the pass every result is checked against its
DuckDB oracle. The pass is the first the run's JVM makes, as a batch job's
is, so it includes the per-query code generation and compilation every new
query pays. operators/* and functions/textstats never run in a crawl, so
this is the only workload that measures them, and it is the no-change
control for crawl-layer changes.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import checks
import opsdata
import spans
import stats
from harness import Ctx, Result, null_cpu_s
from metrics import OPS_QUERIES

SCALE = 0.1            # x the sf0.1 row counts: lineitem 60,000 rows
MATERIALIZE_REPEATS = 3


def timed_pass(spark, data: str, tracer: spans.Tracer | None = None) -> dict:
    """Run every query once, collecting its result to the driver;
    {query: (seconds, Collected) or exception}. Traced passes label each
    query's Spark jobs with its name and record a span per query."""
    from sitecheck_spark.queries import QUERIES

    sc = spark.sparkContext
    out = {}
    for q in OPS_QUERIES:
        if tracer:
            sc.setLocalProperty("callSite.short", q)
        t0 = time.perf_counter()
        try:
            with tracer.span(f"query.{q}") if tracer else nullcontext():
                df = QUERIES[q]["fn"](spark, data)
                rows = df.collect()
            out[q] = (time.perf_counter() - t0, checks.Collected(df.columns, rows))
        except Exception as e:  # counted as a failed operation
            out[q] = e
        finally:
            sc.setLocalProperty("callSite.short", None)
    return out


def run(ctx: Ctx) -> Result:
    from sitecheck_spark.queries import QUERIES
    from sitecheck_spark.testing import duck_connection

    spark, out = ctx.spark, Result()
    gen_times = []
    for i in range(MATERIALIZE_REPEATS):
        data = os.path.join(ctx.work, f"tables{i}")
        t0 = time.perf_counter()
        opsdata.write(data, ctx.seed, SCALE)
        gen_times.append(time.perf_counter() - t0)
    materialize_s = stats.median(gen_times)
    setup_s = ctx.session_s + materialize_s
    ctx.notes.append(
        f"setup: session {ctx.session_s:.2f}s + tables materialize median of "
        f"{MATERIALIZE_REPEATS} {materialize_s:.2f}s")
    null_s = null_cpu_s(ctx)
    ctx.notes.append(f"host calibration: null_cpu_s={null_s:.4f}")

    passes = []
    if ctx.trace:
        # A first, cold pass warms the JVM; then the traced pass and an
        # untraced reference. The reference runs on a warmer JVM, so
        # trace.overhead_s errs high rather than low.
        passes.append(timed_pass(spark, data))
        before = spans.stage_snapshot(spark)
        tracer = spans.Tracer(f"ops_suite-seed{ctx.seed}")
        t0 = time.time()
        with tracer.span("pass"):
            passes.append(timed_pass(spark, data, tracer))
        t1 = time.time()
        out.layer.update(_layer_metrics(ctx, passes[1], before))
        for j in spans.jobs_between(spark, t0, t1):
            tracer.add_closed(f"job:{j['label']}", j["start"], j["end"], label=j["label"])
        passes.append(timed_pass(spark, data))
        times = [r[0] for r in passes[2].values() if not isinstance(r, Exception)]
        out.layer["wall.throughput_per_s"] = len(times) / _pass_s(passes[2])
        out.layer["wall.step_p50_s"] = stats.median(times)
        out.layer["trace.overhead_s"] = _pass_s(passes[1]) - _pass_s(passes[2])
        out.layer["host.null_cpu_s"] = null_s
        tracer.write(os.path.join(ctx.out, f"spans_ops_suite_seed{ctx.seed}.jsonl"))
    else:
        t_end, cpu = time.time() + ctx.seconds, 0.0
        while not passes or time.time() < t_end:
            cpu0 = spans.tree_cpu_s(os.getpid())
            passes.append(timed_pass(spark, data))
            cpu += spans.tree_cpu_s(os.getpid()) - cpu0
        peak_mb = ctx.mem.peak

    # oracle check (outside the timed region and setup)
    t_check = time.perf_counter()
    duck = duck_connection(data)
    try:
        for p in passes:
            for q, res in p.items():
                out.attempted += 1
                problem = (f"raised {type(res).__name__}: {res}" if isinstance(res, Exception)
                           else checks.compare_query(duck, QUERIES[q]["sql"], res[1]))
                if problem:
                    out.failed += 1
                    out.problems.append(f"{q}: {problem}")
    finally:
        duck.close()
    ctx.notes.append(f"oracle check: {time.perf_counter() - t_check:.2f}s (untimed)")
    if ctx.trace:
        return out
    times = [r[0] for p in passes for r in p.values() if not isinstance(r, Exception)]
    pass_s = [_pass_s(p) for p in passes]
    ctx.notes.append(f"ops_suite_s={stats.median(pass_s):.4f} (n={len(passes)} pass(es)); "
                     f"queries_per_s={len(times) / sum(pass_s):.4f}")
    ctx.notes.append(f"query_p50_s={stats.median(times):.4f} ({stats.describe(times)})")
    out.e2e["setup_s"] = (setup_s, f"n=1 per run; materialize median of {MATERIALIZE_REPEATS}")
    out.e2e["cpu_ms_per_unit"] = (
        1000 * cpu / len(times), f"n={len(passes)} pass(es); {cpu:.2f} CPU-s of client + "
                                 f"JVM + Python workers / {len(times)} queries")
    out.e2e["peak_pss_mb"] = (peak_mb, spans.MemSampler.DESCRIPTION)
    return out


def _pass_s(p: dict) -> float:
    return sum(r[0] for r in p.values() if not isinstance(r, Exception))


def _layer_metrics(ctx: Ctx, p: dict, before: set[int]) -> dict:
    spans.settle(ctx.spark)
    totals = spans.stage_totals(spans.stages_by_id(ctx.spark), before)
    out = {}
    for q in OPS_QUERIES:
        out[f"ops.{q}.s"] = p[q][0] if not isinstance(p[q], Exception) else 0.0
        out[f"ops.{q}.shuffle_mb"] = totals.get(q, {}).get("shuffle_mb", 0.0)
    return out
