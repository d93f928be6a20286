"""Two-parallelism-level scaling evidence (BASELINE.md / BASELINE.json).

The north rule requires URL-throughput scaling efficiency >= 0.8 between N
and 4N executors. No real cluster exists in this sandbox, so the same crawl
job runs at local-cluster[N] and local-cluster[4N] on the same
pre-materialized corpus with identical seeds/budget/waves;
efficiency = (throughput_4N / throughput_N) / 4.

Usage: python scripts/bench_scaling.py [n_pages] [low_cpus] [high_cpus]
Each measured run executes in its own JVM (spark.master is fixed per
SparkContext): this script re-execs itself per level/run.

Protocols:
- PAIRED (default, SPARK_GRAFT_PAIRS=3): N and 4N runs alternate
  N,4N,N,4N,... in one session, so each (N_i, 4N_i) pair shares its
  host-noise window; per-pair efficiencies plus best/worst/median land in
  the summary JSON. This is the round-5 fix for the round-4 protocol flaw
  (N and 4N sampled from different load windows are not comparable on a
  noisy shared host).
- LEGACY (SPARK_GRAFT_PAIRS=0): one child per level, RUNS runs each,
  best-of compared across levels.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_PAGES = int(sys.argv[1]) if len(sys.argv) > 1 else 120_000
LOW = int(sys.argv[2]) if len(sys.argv) > 2 else 8
HIGH = int(sys.argv[3]) if len(sys.argv) > 3 else 32
WAVES = int(os.environ.get("SPARK_GRAFT_BENCH_WAVES", "4"))
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
PAIRS = int(os.environ.get("SPARK_GRAFT_PAIRS", "3"))
# Warmup crawl (JIT + python worker fork + page cache), discarded. Default
# = a FULL-length run: every paired child is a fresh JVM, and a 1-wave
# warmup measurably under-warms the short 4N runs (round-5 probe: 4N
# 242 -> 217 -> 216 s across cold-ish pairs while N sat at 498 +/- 0.3 % —
# JIT amortizes inside a 500 s N run but not inside a 220 s 4N one).
# Identical warmup spec at both levels; both are measured at steady state.
# At >=2M pages a single warmup wave suffices (one wave scans the whole
# corpus — page cache warm — and a 2.4M measured run is 500-2000 s, long
# past the ~200 s JIT knee the probe above found); a full-length warmup
# there doubles a multi-hour session for no measurable steady-state gain.
# The value used is recorded in every per-level and summary JSON.
WARMUP_WAVES = int(os.environ.get("SPARK_GRAFT_WARMUP_WAVES", str(WAVES)))
# Corpus parquet codec. zstd reads ~30% fewer bytes off the single shared
# disk than snappy for this html-heavy corpus — decompression is
# CPU-parallel (scales with the cluster) while disk bandwidth is the shared
# resource the 4N level contends on, so the trade is exactly the right one
# at scale. Identical corpus content either way (content is a pure function
# of seed); the codec is recorded in the summary JSON.
CODEC = os.environ.get("SPARK_GRAFT_CORPUS_CODEC", "zstd")

_BUCKETED_RAW = os.environ.get("SPARK_GRAFT_BUCKETED")
if _BUCKETED_RAW not in (None, "", "0", "table"):
    raise SystemExit(
        f"SPARK_GRAFT_BUCKETED={_BUCKETED_RAW!r} is not a valid mode — use "
        "unset/''/'0' (plain corpus + broadcast fetch) or 'table' (bucketed "
        "TABLE, storage-partitioned join)"
    )
BUCKETED = _BUCKETED_RAW if _BUCKETED_RAW not in ("", "0") else None

CORPUS = os.environ.get(
    "SPARK_GRAFT_CORPUS_DIR",
    f"/tmp/sitecheck-scaling-{N_PAGES}-"
    + os.environ.get("SPARK_GRAFT_BENCH_PROFILE", "xheavy")
    + ("" if CODEC == "snappy" else f"-{CODEC}"),
)


def run_level(cpus: int, runs: int, warmup_waves: int) -> dict:
    from pyspark.sql import SparkSession

    from sitecheck_spark.crawl import CrawlConfig, crawl
    from sitecheck_spark.sources.corpus import (
        HEAVY_PROFILE,
        XHEAVY_PROFILE,
        bench_seeds,
        generate_pages_spark,
    )

    profile = (
        XHEAVY_PROFILE
        if os.environ.get("SPARK_GRAFT_BENCH_PROFILE", "xheavy") == "xheavy"
        else HEAVY_PROFILE
    )
    seeds_every = int(os.environ.get("SPARK_GRAFT_SEEDS_EVERY", "12"))

    # local-cluster[W,4,mem] spawns W separate 4-core executor JVMs — the
    # faithful emulation of "N executors vs 4N executors" (single-JVM
    # local[n] shares one GC/BlockManager across all "executors" and
    # contends in ways a real cluster does not).
    mode = os.environ.get("SPARK_GRAFT_MASTER_MODE", "local-cluster")
    # per-executor memory — IDENTICAL at both levels (the protocol compares
    # cluster sizes, not executor sizes); XHEAVY 600k-page waves need >6g
    # per executor when the whole crawl lands on few executors
    mem_mb = int(os.environ.get("SPARK_GRAFT_EXEC_MEM_MB", "6144"))
    if mode == "local-cluster":
        n_workers = max(1, cpus // 4)
        master = f"local-cluster[{n_workers},4,{mem_mb}]"
    else:
        master = f"local[{cpus}]"
    os.environ.setdefault(
        "SPARK_HOME", os.path.dirname(__import__("pyspark").__file__)
    )
    spark = (
        SparkSession.builder.master(master)
        .appName(f"sitecheck-scaling-{cpus}")
        .config("spark.sql.shuffle.partitions",
                os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "64"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.executor.memory", f"{mem_mb}m")
        .config("spark.driver.extraJavaOptions", "-XX:+UseG1GC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseG1GC")
        # shuffle files are reclaimed by ContextCleaner only when the
        # ShuffleDependency is GC'd; the shuffle-join (bucketed) mode writes
        # tens of GB per run, so aggressive periodic GC keeps /tmp from
        # filling across warmup+runs on this single disk
        .config("spark.cleaner.periodicGC.interval", "45s")
        # html-heavy shuffles compress ~40% smaller under zstd than lz4 —
        # on a single shared disk the shuffle BYTES are the 4N bottleneck
        .config("spark.io.compression.codec",
                os.environ.get("SPARK_GRAFT_CODEC", "lz4"))
        .config("spark.sql.session.timeZone", "UTC")
        # stage metrics ride the UI REST API (plans/stagemetrics.py); port 0
        # binds an ephemeral port so parallel levels never collide
        .config("spark.ui.enabled",
                "true" if os.environ.get("SPARK_GRAFT_STAGE_METRICS") == "1"
                else "false")
        .config("spark.ui.port", "0")
        # bucketed-TABLE mode declares the table in the session catalog;
        # keep the warehouse dir out of the repo
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE",
                               f"/tmp/sitecheck-warehouse-{cpus}"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    if mode == "local-cluster":
        # executors are separate JVMs: ship the package exactly as a real
        # cluster run would (spark-submit --py-files, north rule)
        from scripts.package import main as build_zip

        spark.sparkContext.addPyFile(build_zip())

    # SPARK_GRAFT_BUCKETED=table benches the bucketed TABLE layout
    # (storage-partitioned join, html crosses zero exchanges) — the shape an
    # Iceberg bucket(N,url) table gives, and the one that dodges the
    # shared-disk html-shuffle bottleneck measured in round 4. crawl()
    # detects the table from its scan.
    if BUCKETED == "table":
        from sitecheck_spark.sources.catalog import (
            register_pages_bucketed_table,
            write_pages_bucketed_table,
        )

        n_buckets = 64
        corpus = CORPUS + "-btable"
        spark.conf.set("spark.sql.parquet.compression.codec", CODEC)
        if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
            write_pages_bucketed_table(
                generate_pages_spark(spark, N_PAGES, seed=42, profile=profile),
                n_buckets=n_buckets, table="pages_btable", path=corpus,
            )
            pages = spark.table("pages_btable")
        else:
            # files persist across level processes; only the session-scoped
            # bucketing declaration must be re-made
            pages = register_pages_bucketed_table(
                spark, corpus, n_buckets=n_buckets, table="pages_btable"
            )
    else:
        corpus = CORPUS
        if not os.path.exists(os.path.join(corpus, "_SUCCESS")):
            generate_pages_spark(spark, N_PAGES, seed=42, profile=profile).write.mode(
                "overwrite"
            ).option("compression", CODEC).parquet(corpus)
        pages = spark.read.parquet(corpus)
    seeds = bench_seeds(N_PAGES, every=seeds_every)

    stage_metrics = os.environ.get("SPARK_GRAFT_STAGE_METRICS") == "1"

    def one_run(waves: int, collect_stages: bool) -> tuple:
        if collect_stages:
            from sitecheck_spark.plans.stagemetrics import (
                completed_stage_ids,
                stage_aggregates,
            )

            before = completed_stage_ids(spark)
        # IDENTICAL job at both levels (the north rule compares cluster
        # sizes, not differently-tuned jobs): same shuffle partitioning,
        # same shard count, same budget/seeds/waves.
        cfg = CrawlConfig(
            budget_per_host=10**9, max_waves=waves, max_depth=10**6,
            n_shards=64, salt_buckets=8, run_checkers=True,
            verbose=os.environ.get("SPARK_GRAFT_BENCH_VERBOSE") == "1",
            # split the fused wave_chain job into labeled sub-phase jobs
            # (elect / fetch+parse / probe+gate) so N-vs-4N stage tables
            # attribute co-scheduling inflation to a sub-phase; identical
            # total work, slightly less pipelining overlap
            phase_labels=os.environ.get("SPARK_GRAFT_PHASE_LABELS") == "1",
        )
        t0 = time.time()
        res = crawl(spark, pages, seeds, cfg)
        n_urls = res.fetch_log.count()
        n_findings = res.findings.count()
        elapsed = time.time() - t0
        stages = (
            stage_aggregates(spark, exclude_ids=before, top=25)
            if collect_stages else None
        )
        res.release()  # drop cached state so runs don't degrade each other
        spark.catalog.clearCache()
        import gc

        gc.collect()  # drop py refs -> JVM GC -> ContextCleaner frees shuffles
        spark.sparkContext._jvm.System.gc()
        return elapsed, n_urls, n_findings, stages

    one_run(warmup_waves, False)  # warmup, discarded
    samples = [one_run(WAVES, stage_metrics) for _ in range(runs)]
    # This sandbox is a shared host with fluctuating background load (raw
    # CPU probes vary run-to-run); best-of-N compares peak capability at
    # each level, which is the fair basis under exogenous noise. All raw
    # samples are reported alongside. (The paired protocol runs runs=1 and
    # pairs across child processes instead.)
    best = min(samples, key=lambda s: s[0])
    out = {
        "cpus": cpus,
        "n_pages": N_PAGES,
        "waves": WAVES,
        "warmup_waves": warmup_waves,
        "corpus_codec": CODEC,
        "urls": best[1],
        "findings": best[2],
        "sec_runs": sorted(round(x[0], 2) for x in samples),
        "sec_best": round(best[0], 2),
        "urls_per_sec": round(best[1] / best[0], 1),
        "phase_labels": os.environ.get("SPARK_GRAFT_PHASE_LABELS") == "1",
    }
    if best[3] is not None:
        out["stages"] = best[3]  # best run's per-stage-name aggregates
    spark.stop()
    return out


def _spawn(cpus: int, runs: int) -> dict:
    env = dict(os.environ, _SCALING_LEVEL=str(cpus), _SCALING_RUNS=str(runs))
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *sys.argv[1:]],
        env=env, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if not lines or not lines[-1].startswith("{"):
        print(f"--- level {cpus} child failed (rc={proc.returncode}) ---",
              file=sys.stderr)
        print(proc.stdout[-4000:], file=sys.stderr)
        print(proc.stderr[-4000:], file=sys.stderr)
        raise SystemExit(1)
    if os.environ.get("SPARK_GRAFT_BENCH_VERBOSE") == "1":
        for extra in lines[:-1]:  # per-wave chain/state/count timings
            print(f"[{cpus}cpu] {extra}", file=sys.stderr)
    return json.loads(lines[-1])


def _print_stage_table(merged: list[dict]) -> None:
    print(f"{'inflation':>9}  {'task_s@N':>9} {'task_s@4N':>9}  "
          f"{'shufW_MB':>9}  stage", file=sys.stderr)
    for r in merged:
        print(f"{r['inflation']:>9} {r['task_time_s_N']:>9} "
              f"{r['task_time_s_4N']:>9} {r['shuffle_write_mb']:>9}  "
              f"{r['name'][:70]}", file=sys.stderr)


def _efficiency(low: dict, high: dict) -> float:
    return round(
        (high["urls_per_sec"] / low["urls_per_sec"]) / (HIGH / LOW), 3
    )


def main_paired() -> None:
    """N,4N,N,4N,... alternating in one session: each pair shares its
    host-noise window, so per-pair efficiencies are directly comparable —
    the round-4 verdict's protocol fix."""
    pairs = []
    failed = 0
    for i in range(PAIRS):
        # a lost child (executor-launch race when a fresh local-cluster
        # starts on the heels of the previous pair's teardown) must cost
        # ONE pair, not the whole multi-hour session and its summary JSON
        try:
            low = _spawn(LOW, 1)
            high = _spawn(HIGH, 1)
        except SystemExit:
            failed += 1
            print(json.dumps({"pair": i, "failed": True}))
            continue
        eff = _efficiency(low, high)
        pairs.append({"pair": i, "low": low, "high": high, "efficiency": eff})
        print(json.dumps({"pair": i,
                          "low_sec": low["sec_best"],
                          "high_sec": high["sec_best"],
                          "efficiency": eff}))
    if not pairs:
        raise SystemExit("every pair failed — no summary to write")
    effs = [p["efficiency"] for p in pairs]
    best_low = min((p["low"] for p in pairs), key=lambda r: r["sec_best"])
    best_high = min((p["high"] for p in pairs), key=lambda r: r["sec_best"])
    summary = {
        "protocol": "paired",
        "pairs": len(pairs),
        "pairs_failed": failed,
        "corpus_codec": CODEC,
        "cluster_ratio": HIGH / LOW,
        "pair_efficiencies": effs,
        "efficiency_best_pair": max(effs),
        "efficiency_worst_pair": min(effs),
        "efficiency_median_pair": round(statistics.median(effs), 3),
        # pooled best-of across all windows (the legacy headline number)
        "efficiency_pooled_best": _efficiency(best_low, best_high),
        "low_sec_runs": sorted(p["low"]["sec_best"] for p in pairs),
        "high_sec_runs": sorted(p["high"]["sec_best"] for p in pairs),
        "low_urls_per_sec_best": best_low["urls_per_sec"],
        "high_urls_per_sec_best": best_high["urls_per_sec"],
        "urls": best_high["urls"],
        "findings": best_high["findings"],
        "n_pages": N_PAGES,
        "waves": WAVES,
        "warmup_waves": WARMUP_WAVES,
    }
    # stage table from the median-efficiency pair (representative window)
    med = min(pairs, key=lambda p: abs(p["efficiency"]
                                       - statistics.median(effs)))
    if "stages" in med["low"] and "stages" in med["high"]:
        from sitecheck_spark.plans.stagemetrics import merge_levels

        merged = merge_levels(med["low"]["stages"], med["high"]["stages"])
        summary["stage_table"] = merged
        summary["stage_table_pair"] = med["pair"]
        _print_stage_table(merged)
    for p in pairs:  # keep pair_details slim — the merged table carries it
        p["low"].pop("stages", None)
        p["high"].pop("stages", None)
    summary["pair_details"] = pairs
    print(json.dumps(summary))


def main_legacy() -> None:
    results = {}
    for cpus in (LOW, HIGH):
        results[cpus] = _spawn(cpus, RUNS)
        print(json.dumps(results[cpus]))
    summary = {
        "protocol": "legacy",
        "low": results[LOW], "high": results[HIGH],
        "corpus_codec": CODEC,
        "speedup": round(
            results[HIGH]["urls_per_sec"] / results[LOW]["urls_per_sec"], 2
        ),
        "cluster_ratio": HIGH / LOW,
        "scaling_efficiency": _efficiency(results[LOW], results[HIGH]),
    }
    if "stages" in results[LOW] and "stages" in results[HIGH]:
        from sitecheck_spark.plans.stagemetrics import merge_levels

        merged = merge_levels(results[LOW].pop("stages"),
                              results[HIGH].pop("stages"))
        summary["stage_table"] = merged
        _print_stage_table(merged)
    print(json.dumps(summary))


if __name__ == "__main__" and os.environ.get("_SCALING_LEVEL"):
    print(json.dumps(run_level(
        int(os.environ["_SCALING_LEVEL"]),
        int(os.environ.get("_SCALING_RUNS", str(RUNS))),
        WARMUP_WAVES,
    )))
elif __name__ == "__main__":
    main_paired() if PAIRS else main_legacy()
