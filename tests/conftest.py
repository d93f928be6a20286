import os
import sys
import tempfile
import time
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

# Headroom left outside the driver heap: the JVM's off-heap (metaspace,
# Arrow and netty buffers), the four Python workers of local[4] and this
# pytest process.
_HEADROOM_MB = 4096


def _driver_heap_mb() -> int:
    """Driver heap sized from the host's RAM: 60% of what the headroom
    leaves, between 2g and 16g. A fixed heap larger than the host (16g on a
    15 GB machine without swap) lets the JVM grow until the kernel kills
    it a few modules into the suite."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(int(line.split()[1]) for line in f
                            if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return 4096
    return min(16384, max(2048, int((total_kb // 1024 - _HEADROOM_MB) * 0.6)))


@pytest.fixture(scope="session")
def spark():
    s = (
        # local[4, 4]: maxFailures=4 (the real-cluster default). Plain
        # local[N] runs with maxFailures=1, so ONE transient task failure
        # (python worker killed under host memory/CPU contention) fails the
        # whole job — the source of flaky full-suite runs under load.
        SparkSession.builder.master("local[4, 4]")
        .appName("sitecheck-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # A near-full heap turns TaskMemoryManager page allocation into a
        # retry storm long before a clean OOM, so the heap takes most of
        # the RAM the headroom leaves (_driver_heap_mb).
        .config("spark.driver.memory", f"{_driver_heap_mb()}m")
        # generous RPC/heartbeat margin: under host contention a paused JVM
        # must not read as a dead one
        .config("spark.network.timeout", "600s")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bucketed-table tests saveAsTable; keep the warehouse out of the repo
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="sw-wh-"))
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="module", autouse=True)
def _sweep_caches_between_modules(spark):
    """Backstop against cross-module cache leaks: crawl tests localCheckpoint
    per-wave state, and anything left unreleased accumulates in the one
    session JVM until a late-running module dies with page-allocation
    failures (the round-2/3 full-suite flake). Releasing is each test's job;
    this sweeps whatever slipped through once per module."""
    import gc

    yield
    spark.catalog.clearCache()
    gc.collect()  # drop py refs -> ContextCleaner can free checkpoint RDDs
    spark.sparkContext._jvm.System.gc()


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def jobs_launched_by(spark, fn):
    """(fn(), ids of the Spark jobs fn launched). fn runs under a fresh job
    group; a sentinel job under a second group follows it, and since the
    status tracker receives job events in order, once it shows the
    sentinel it shows every job fn launched."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, "probe")
        out = fn()
        sc.setJobGroup(group + "-end", "sentinel")
        sc.parallelize([0], 1).count()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group + "-end"):
        if time.monotonic() > deadline:
            raise AssertionError("the sentinel job never reached the tracker")
        time.sleep(0.1)
    return out, list(tracker.getJobIdsForGroup(group))
