"""sitecheck-spark benchmark.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads: crawl_polite (crawl_polite.py)
and ops_suite (ops_suite.py); the seed drives every generated input. With
--trace 0 the run reports the end-to-end metrics, timed with tracing off;
with --trace 1 it reports the per-layer metrics and writes spans under
.perfbench_out/. Human-readable lines come first; the last line of stdout is
one JSON object {"correct", "attempted", "failed", "metrics"}.

Scratch data lives in .perfbench_work/ in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
WORKLOADS = ("crawl_polite", "ops_suite")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def report(args, ctx, result) -> dict:
    """Print the human-readable report and return the JSON result object."""
    from metrics import END_TO_END, PER_LAYER

    print(f"perfbench workload={args.workload} seed={args.seed} cores={ctx.cores} "
          f"trace={args.trace} seconds={args.seconds:g}")
    for note in ctx.notes:
        print(f"  {note}")
    if args.trace:
        defs = PER_LAYER
        values = {name: float(result.layer.get(name, 0.0)) for name, _, _ in defs}
        for name in sorted(n for n in values if n.startswith("crawl.share.")):
            print(f"  {name:<34} {values[name]:.4f}")
    else:
        defs = END_TO_END
        values = {}
        for name, unit, better in defs:
            value, samples = result.e2e[name]
            values[name] = float(value)
            print(f"  {name:<18} {value:12.4f} {unit:<4} ({better} is better; {samples})")
    failed_frac = result.failed / result.attempted if result.attempted else 1.0
    print(f"  failed_frac        {failed_frac:12.4f} ({result.failed}/{result.attempted} "
          f"timed operations failed or mismatched the reference)")
    correct = result.attempted > 0 and result.failed == 0
    print(f"  correctness: {'ok' if correct else 'FAILED'}")
    for p in result.problems[:20]:
        print(f"    {p}")
    units = {name: unit for name, unit, _ in defs}
    return {"correct": correct, "attempted": max(1, result.attempted),
            "failed": result.failed if result.attempted else 1,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sitecheck_spark", "__init__.py")):
        print(f"perfbench: no sitecheck_spark package under {ROOT}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    # Inputs, Spark scratch and temp files stay inside the checkout; Python
    # workers import the engine from it.
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)

    import harness
    import spans

    cores = len(os.sched_getaffinity(0))
    spark = None
    try:
        with spans.MemSampler() as mem:
            t0 = time.perf_counter()
            spark = harness.build_session(cores, WORK, bool(args.trace))
            ctx = harness.Ctx(spark=spark, cores=cores, work=WORK, out=OUT,
                              seed=args.seed, seconds=args.seconds,
                              trace=bool(args.trace),
                              session_s=time.perf_counter() - t0, mem=mem)
            if args.workload == "crawl_polite":
                import crawl_polite as workload
            else:
                import ops_suite as workload
            result = workload.run(ctx)
        line = report(args, ctx, result)
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(line), flush=True)
    return 0


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
