"""Self-test of the benchmark at toy size.

    python3 perfbench/selftest.py

Run from the root of a checkout. Checks that BENCHMARK.json and metrics.py
agree, that the tail-percentile rule holds, that the correctness gates catch
deliberately perturbed results (by altering the check's input, never the
engine), and that toy-size runs of every workload, traced and untraced,
emit every metric with its unit and sample count. Exits non-zero on failure.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")


def check_benchmark_json() -> None:
    from metrics import END_TO_END, PER_LAYER
    from run import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == \
        list(END_TO_END), "BENCHMARK.json end_to_end differs from metrics.END_TO_END"
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == \
        list(PER_LAYER), "BENCHMARK.json per_layer differs from metrics.PER_LAYER"
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values()), bounds
    assert bounds["setup_s"] == max(bounds.values()), "setup_s needs the largest bound"
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def check_tail_rule() -> None:
    import stats

    assert stats.tail([float(i) for i in range(39)]) is None
    for n, level in ((40, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)):
        xs = [float(i) for i in range(n)]
        got = stats.tail(xs)
        assert got is not None and got[0] == level, (n, got)
        assert sum(1 for x in xs if x > got[1]) >= stats.TAIL_MIN_BEYOND, (n, got)
    assert stats.median([3.0, 1.0, 2.0]) == 2.0


def check_golden_gate() -> None:
    """The crawl gate flags each kind of perturbation of the engine's output."""
    import checks
    from sitecheck_spark.golden import golden_crawl
    from sitecheck_spark.sources.corpus import (
        DICTIONARY, ROBOTS_BODIES, make_pages_pdf, make_seeds_pdf)

    rows = [tuple(r) for r in make_pages_pdf(40).itertuples(index=False)]
    g = golden_crawl(rows, make_seeds_pdf().url.tolist(), ROBOTS_BODIES,
                     set(DICTIONARY), budget_per_host=3, max_waves=3)
    want = checks.golden_summary(g)
    fetch = [dict(r) for r in g.fetch_log]
    seen = [{"verb": v, "url": u, "post_data": d} for v, u, d in g.seen]
    finds = [dict(f) for f in g.findings]
    assert checks.compare_crawl(checks.crawl_summary(fetch, seen, finds), want) == []
    perturbed = {
        "dropped fetch": (fetch[:-1], seen, finds),
        "moved wave": ([{**fetch[0], "wave": fetch[0]["wave"] + 1}] + fetch[1:], seen, finds),
        "extra seen": (fetch, seen + [{"verb": "GET", "url": "https://x/", "post_data": ""}], finds),
        "duplicated finding": (fetch, seen, finds + finds[:1]),
        "changed detail": (fetch, seen, [{**finds[0], "detail": "?"}] + finds[1:]),
    }
    for what, (f, s, fi) in perturbed.items():
        assert checks.compare_crawl(checks.crawl_summary(f, s, fi), want), \
            f"golden check missed: {what}"


def check_oracle_gate(spark) -> None:
    """The operator gate matches an intact result and flags a perturbed one."""
    import checks
    import opsdata
    from sitecheck_spark.queries import QUERIES
    from sitecheck_spark.testing import duck_connection

    data = os.path.join(WORK, "oracle")
    opsdata.write(data, seed=7, scale=0.01)
    spec = QUERIES["q_topk_per_group"]
    df = spec["fn"](spark, data)
    rows = df.collect()
    duck = duck_connection(data)
    try:
        assert checks.compare_query(duck, spec["sql"], checks.Collected(df.columns, rows)) is None
        assert checks.compare_query(duck, spec["sql"], checks.Collected(df.columns, rows[:-1]))
    finally:
        duck.close()


def check_toy_runs(spark, cores: int) -> None:
    """Toy-size runs of each workload emit every metric, with its unit and
    (untraced) its sample count, and pass their own correctness gate."""
    import crawl_polite
    import harness
    import ops_suite
    import run
    import spans
    from metrics import END_TO_END, PER_LAYER

    crawl_polite.N_PAGES, crawl_polite.SEEDS_PER_HOST = 80, 3
    crawl_polite.BUDGET = 3
    ops_suite.SCALE = 0.01
    for workload, module in (("crawl_polite", crawl_polite), ("ops_suite", ops_suite)):
        for trace in (0, 1):
            with spans.MemSampler() as mem:
                ctx = harness.Ctx(spark=spark, cores=cores, work=WORK,
                                  out=os.path.join(WORK, "out"), seed=5, seconds=0.1,
                                  trace=bool(trace), mem=mem)
                result = module.run(ctx)
            args = run.parse_args(["--workload", workload, "--seed", "5",
                                   "--seconds", "0.1", "--trace", str(trace)])
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                line = run.report(args, ctx, result)
            text = buf.getvalue()
            assert line["correct"], (workload, trace, result.problems)
            defs = PER_LAYER if trace else END_TO_END
            assert set(line["metrics"]) == {n for n, _, _ in defs}, (workload, trace)
            for name, unit, _ in defs:
                assert line["metrics"][name]["unit"] == unit
                if not trace:
                    report_line = next(l for l in text.splitlines()
                                       if l.strip().startswith(name + " "))
                    assert f" {unit} " in report_line and "n=" in report_line, report_line
                    assert line["metrics"][name]["value"] > 0, (workload, name)
            if trace:
                assert os.listdir(ctx.out), "traced run wrote no spans"
            print(f"  toy {workload} trace={trace}: ok")


def main() -> int:
    if not os.path.isfile(os.path.join(ROOT, "sitecheck_spark", "__init__.py")):
        print("selftest: run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import harness
    import run

    t0 = time.time()
    check_benchmark_json()
    check_tail_rule()
    check_golden_gate()
    print("  static checks, tail rule, golden gate: ok")
    cores = len(os.sched_getaffinity(0))
    spark = harness.build_session(cores, WORK, trace=True)
    try:
        check_oracle_gate(spark)
        print("  oracle gate: ok")
        check_toy_runs(spark, cores)
    finally:
        run.stop(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    print(f"selftest passed in {time.time() - t0:.0f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
