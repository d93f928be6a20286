"""Outside-view instrumentation: spans, Spark REST job/stage reads, layer
shares, and the process-tree memory sampler.

Everything here observes the engine from outside: spans wrap public calls
made by the benchmark (crawl(), WaveCatalog methods), Spark jobs come from
the UI REST API, and memory comes from /proc. Spans are kept in memory and
written out once, at the end of a traced run.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import os
import threading
import time
import urllib.request

# Engine call-site labels (crawl.py sets callSite.short) -> benchmark layer.
LABEL_LAYER = {
    "wave_elect": "elect",
    "wave_fetch_parse": "fetch_parse",
    "wave_probe_gate": "probe_gate",
    "ckpt_findings": "findings",
    "ckpt_frontier": "state",
    "ckpt_seen_full": "state",
    "ckpt_seen_delta": "state",
    "ckpt_shards": "state",
    "ckpt_fetch_log": "state",
    "frontier_count": "state",
}
SHARE_LAYERS = ("elect", "fetch_parse", "probe_gate", "findings", "state",
                "catalog", "other_jobs", "driver_gap")
CATALOG_METHODS = ("commit_wave", "read_state", "read_manifest", "read_table",
                   "read_deltas_through")


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent, run_id);
    parents come from a stack of open spans on the calling thread."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def open(self, name: str, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "start": time.time(), "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id, **attrs,
        })
        self._stack.append(sid)
        return sid

    def close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.time()
        self._stack.remove(sid)

    def span(self, name: str, **attrs):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.sid = tracer.open(name, **attrs)
                return self.sid

            def __exit__(self, *exc):
                tracer.close(self.sid)
                return False

        return _Ctx()

    def add_closed(self, name: str, start: float, end: float, **attrs) -> None:
        """Attach a span measured elsewhere (a Spark job) under the innermost
        recorded span whose interval contains it."""
        parent = None
        for s in self.spans:
            if s["end"] is not None and s["start"] <= start and end <= s["end"]:
                if parent is None or s["start"] >= self.spans[parent]["start"]:
                    parent = s["id"]
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent,
                           "run_id": self.run_id, **attrs})

    def self_times(self) -> dict[int, float]:
        """Per span: duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered = union_length(kids.get(s["id"], []), s["start"], s["end"])
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        selfs = self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": round(selfs[s["id"]], 6)}) + "\n")


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def patch_catalog(tracer: Tracer):
    """Wrap the public WaveCatalog methods in spans for the duration of a
    traced call. Returns a function that restores the originals."""
    from sitecheck_spark.sources.catalog import WaveCatalog

    originals = {m: getattr(WaveCatalog, m) for m in CATALOG_METHODS}

    def wrap(method, fn):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with tracer.span(f"catalog.{method}"):
                return fn(*args, **kwargs)
        return inner

    for m, fn in originals.items():
        setattr(WaveCatalog, m, wrap(m, fn))

    def restore():
        for m, fn in originals.items():
            setattr(WaveCatalog, m, fn)

    return restore


# -- Spark UI REST -----------------------------------------------------------

def rest(spark, path: str):
    ui = spark.sparkContext.uiWebUrl
    if not ui:
        raise RuntimeError("Spark UI is disabled; traced runs need spark.ui.enabled")
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}{path}",
                                timeout=30) as r:
        return json.loads(r.read().decode())


def _epoch(ts: str) -> float:
    # REST timestamps look like 2026-01-02T03:04:05.678GMT
    return dt.datetime.strptime(ts[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=dt.timezone.utc).timestamp()


def settle(spark, timeout: float = 20.0) -> None:
    """Wait until the UI's listener has caught up: no running jobs and a
    stable job count (status updates are asynchronous)."""
    deadline = time.time() + timeout
    last = -1
    while time.time() < deadline:
        jobs = rest(spark, "/jobs")
        running = [j for j in jobs if j["status"] == "RUNNING"]
        if not running and len(jobs) == last:
            return
        last = len(jobs)
        time.sleep(0.5)


def stage_snapshot(spark) -> set[int]:
    """Completed stage ids once the UI has caught up — taken before a traced
    call so its own stages can be isolated afterwards."""
    from sitecheck_spark.plans.stagemetrics import completed_stage_ids

    settle(spark)
    return completed_stage_ids(spark)


def jobs_between(spark, t0: float, t1: float) -> list[dict]:
    """Completed jobs submitted within [t0, t1] as
    {label, start, end, stage_ids}."""
    out = []
    for j in rest(spark, "/jobs"):
        if "completionTime" not in j or "submissionTime" not in j:
            continue
        s, e = _epoch(j["submissionTime"]), _epoch(j["completionTime"])
        if t0 <= s <= t1:
            out.append({"label": j["name"], "start": s, "end": e,
                        "stage_ids": j.get("stageIds", [])})
    return out


def stages_by_id(spark) -> dict[int, dict]:
    return {s["stageId"]: s for s in rest(spark, "/stages?status=complete")}


def stage_totals(stages: dict[int, dict], exclude_ids: set[int]) -> dict[str, dict]:
    """Completed stages summed by name (the call-site label), as
    plans/stagemetrics.stage_aggregates sums them but without its 0.1 MB
    rounding, which would zero this benchmark's small inputs and shuffles."""
    out: dict[str, dict] = {}
    for sid, s in stages.items():
        if sid in exclude_ids:
            continue
        a = out.setdefault(s["name"], dict.fromkeys(
            ("n_stages", "n_tasks", "task_s", "cpu_s", "input_mb", "shuffle_mb"), 0))
        a["n_stages"] += 1
        a["n_tasks"] += s.get("numCompleteTasks", 0)
        a["task_s"] += s.get("executorRunTime", 0) / 1e3
        a["cpu_s"] += s.get("executorCpuTime", 0) / 1e9
        a["input_mb"] += s.get("inputBytes", 0) / 2**20
        a["shuffle_mb"] += (s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0)) / 2**20
    return out


def layer_shares(crawl_spans: list[dict], catalog_spans: list[dict],
                 jobs: list[dict]) -> dict[str, float]:
    """Split the crawl() wall time into layers, instant by instant: time
    inside a catalog call is 'catalog'; otherwise time covered by Spark jobs
    goes to those jobs' layers (split evenly when jobs overlap); the rest is
    'driver_gap'. Shares sum to 1."""
    acc = dict.fromkeys(SHARE_LAYERS, 0.0)
    for cs in crawl_spans:
        lo, hi = cs["start"], cs["end"]
        cats = [(s["start"], s["end"]) for s in catalog_spans]
        js = [(max(j["start"], lo), min(j["end"], hi),
               LABEL_LAYER.get(j["label"], "other_jobs")) for j in jobs]
        cuts = sorted({lo, hi, *[x for c in cats for x in c],
                       *[x for j in js for x in j[:2]]})
        cuts = [c for c in cuts if lo <= c <= hi]
        for a, b in zip(cuts, cuts[1:]):
            mid = (a + b) / 2
            if any(s <= mid < e for s, e in cats):
                acc["catalog"] += b - a
                continue
            active = [layer for s, e, layer in js if s <= mid < e]
            if not active:
                acc["driver_gap"] += b - a
            for layer in active:
                acc[layer] += (b - a) / len(active)
    total = sum(acc.values()) or 1.0
    return {k: v / total for k, v in acc.items()}


# -- memory and CPU ---------------------------------------------------------

def _stats() -> dict[int, list[str]]:
    """/proc/<pid>/stat fields after the command name, for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                out[int(name)] = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    return out


def _descendants(root: int, stats: dict[int, list[str]]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        kids.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root: int) -> float:
    """Proportional set size of every descendant of `root` (the Spark JVM
    and its Python workers), excluding `root` itself — the benchmark client.
    PSS splits pages shared between forked Python workers among them, so the
    sum does not count the worker daemon's image once per worker."""
    return sum(_pss_kb(pid) for pid in _descendants(root, _stats())) / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by `root` — the client, which
    also runs the engine's driver-side Python — and its descendants (the
    Spark JVM and its Python workers), counting children they have reaped.
    Unlike wall time it does not grow while the host runs other tenants'
    work on our cores, so a difference of two readings is steady on a
    shared machine."""
    stats = _stats()
    total = 0
    for pid in [root] + _descendants(root, stats):
        fields = stats.get(pid)
        if fields:  # utime, stime, cutime, cstime
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


class MemSampler:
    """Samples tree_pss_mb(os.getpid()) on a background thread and keeps the
    high-water mark. Runs from session start to the end of the timed region:
    the set-up's warm-up starts the Python workers the timed region reuses,
    so a window over the timed region alone would see a varying number."""

    DESCRIPTION = ("high-water PSS of the driver JVM + Python workers from "
                   "session start to the end of the timed region; n=1 per run, "
                   "sampled every 0.2s")

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_mb(root))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False
