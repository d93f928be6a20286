"""The benchmark's metric catalogue. BENCHMARK.json lists the same metrics;
selftest.py checks that the two agree and that runs emit every one."""

from __future__ import annotations

from spans import SHARE_LAYERS

# bench.py's HEADLINE operator set, frozen here so the benchmark's suite does
# not change when that script does.
OPS_QUERIES = (
    "q_join_orders_customer", "q_topk_per_group", "q_latest_event_per_user",
    "q_session_windows", "q_asof_join", "q_dedup_exact", "q_dedup_minhash_lsh",
    "q_dedup_jaccard", "q_token_count", "q_lang_id", "q_ann_cosine",
    "q_pagerank", "q_connected_components", "q_heavy_hitters",
    "q_redirect_chains", "q_repetition_quality", "q_pack_sequences",
)

# (name, unit, better) — emitted by every --trace 0 run. The timed metric is
# CPU time, not wall time: on a shared host, other tenants' load stretches
# wall time by up to 2x between runs (host.null_cpu_s shows it), while the
# engine keeps most of the 4 cores busy, so its CPU time per unit of work
# tracks its speed without that noise. Wall figures are printed as notes and
# reported by the traced run.
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("cpu_ms_per_unit", "ms", "lower"),
    ("peak_pss_mb", "MB", "lower"),
)


# (name, unit, better) — emitted by every --trace 1 run; a metric of a layer
# the workload does not load reads 0.
PER_LAYER = (
    ("host.null_cpu_s", "s", "lower"),
    ("wall.throughput_per_s", "1/s", "higher"),
    ("wall.step_p50_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("crawl.elect.task_s", "s", "lower"),
    ("crawl.elect.stages", "count", "lower"),
    ("crawl.elect.tasks", "count", "lower"),
    ("extract.fetch_parse.task_s", "s", "lower"),
    ("extract.fetch_parse.cpu_s", "s", "lower"),
    ("extract.fetch_parse.input_mb", "MB", "lower"),
    ("extract.fetch_parse.shuffle_mb", "MB", "lower"),
    ("seen.probe_gate.task_s", "s", "lower"),
    ("seen.probe_gate.input_mb", "MB", "lower"),
    ("seen.probe_gate.shuffle_mb", "MB", "lower"),
    ("checkers.findings.task_s", "s", "lower"),
    ("checkers.findings.input_mb", "MB", "lower"),
    ("crawl.state.task_s", "s", "lower"),
    ("crawl.state.stages", "count", "lower"),
    ("crawl.jobs_per_wave", "count", "lower"),
    ("crawl.stages_per_wave", "count", "lower"),
    ("crawl.tasks_per_wave", "count", "lower"),
    ("crawl.driver_gap_s", "s", "lower"),
    ("crawl.core_util", "ratio", "higher"),
    ("crawl.spill_mb", "MB", "lower"),
    ("crawl.gc_s", "s", "lower"),
    ("crawl.resume_s", "s", "lower"),
    ("crawl.fetch_ok_ratio", "ratio", "higher"),
    ("catalog.commit_s", "s", "lower"),
    ("catalog.commit_mb", "MB", "lower"),
    ("catalog.read_state_s", "s", "lower"),
    ("catalog.read_manifest_calls", "count", "lower"),
    ("extract.parse_pages_per_s", "1/s", "higher"),
    ("seen.bloom_ops_per_s", "1/s", "higher"),
    ("seen.cuckoo_ops_per_s", "1/s", "higher"),
    ("urls.canonicalize_per_s", "1/s", "higher"),
    ("robots.match_path_per_s", "1/s", "higher"),
    *((f"crawl.share.{layer}", "ratio", "lower") for layer in SHARE_LAYERS),
    *((f"ops.{q}.s", "s", "lower") for q in OPS_QUERIES),
    *((f"ops.{q}.shuffle_mb", "MB", "lower") for q in OPS_QUERIES),
)
