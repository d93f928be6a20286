"""Session set-up and helpers shared by the workloads."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import spans
import stats


@dataclass
class Ctx:
    spark: object
    cores: int
    work: str          # scratch directory inside the checkout, removed at exit
    out: str           # where traced runs write their spans
    seed: int
    seconds: float
    trace: bool
    session_s: float = 0.0
    mem: spans.MemSampler | None = None   # started with the session
    notes: list[str] = field(default_factory=list)


@dataclass
class Result:
    """What a workload run reports. e2e maps a metric name to (value,
    sample description); layer maps a per-layer metric name to its value."""
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)


def build_session(cores: int, work: str, trace: bool):
    """One local[<cores>] session: the only client of the engine. The UI
    (and with it the REST API) is on only for traced runs."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("sitecheck-perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # the heap is sized once, so peak memory reads what the workload
        # touches rather than the collector's resizing decisions
        .config("spark.driver.extraJavaOptions", f"-Xms2g -Djava.io.tmpdir={tmp}")
        .config("spark.ui.enabled", "true" if trace else "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "10000")
        .config("spark.ui.retainedStages", "20000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# Rows for the calibration job: about 0.25 s at 4 cores on the host the
# benchmark was written on; shaped like scripts/bench_null.py's cpu workload.
NULL_ROWS = 15_000_000


def null_cpu_s(ctx: Ctx, repeats: int = 3) -> float:
    """Median wall time of a fixed pure-JVM CPU job (no input, no shuffle,
    no Python). Recorded with every run so a slow host window shows."""
    from pyspark.sql import functions as F

    times = []
    for _ in range(repeats):
        # a fresh DataFrame each time: re-collecting one adaptive plan would
        # reuse its finished query stages
        col = F.col("id")
        for _ in range(8):
            col = F.xxhash64(col)
        df = ctx.spark.range(NULL_ROWS, numPartitions=ctx.cores * 4).select(
            F.sum(col.bitwiseAND(F.lit(65535))).alias("s"))
        t0 = time.perf_counter()
        df.collect()
        times.append(time.perf_counter() - t0)
    return stats.median(times)


def rate(fn, n_items: int, repeats: int = 5, min_s: float = 0.2) -> float:
    """Items per second of fn() (which processes n_items), median of
    `repeats` timings that each loop fn for at least min_s."""
    rates = []
    for _ in range(repeats):
        loops, t0 = 0, time.perf_counter()
        while True:
            fn()
            loops += 1
            dt = time.perf_counter() - t0
            if dt >= min_s:
                break
        rates.append(loops * n_items / dt)
    return stats.median(rates)
