"""Checkpoint/resume tests (SURVEY.md §5.5): a crawl killed after wave k and
resumed must produce byte-equal final state to an uninterrupted run."""

from collections import Counter

import os
import time

import pytest

from sitecheck_spark.crawl import CrawlConfig, crawl
from sitecheck_spark.sources.catalog import WaveCatalog
from sitecheck_spark.sources.corpus import make_pages_pdf, make_seeds_pdf

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
N_PAGES, BUDGET, WAVES = 48, 3, 5


@pytest.fixture(autouse=True)
def _sweep_after_each(spark):
    """This module runs several multi-wave crawls per test; each releases
    its caches, but unpersist is async (ContextCleaner processes on GC).
    Force the GC round-trip per test so one test's released state is gone
    before the next crawl allocates, instead of stacking until the
    module-scope sweep."""
    yield
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _cfg(**kw):
    base = dict(budget_per_host=BUDGET, max_waves=WAVES, n_shards=4,
                salt_buckets=2, run_checkers=False)
    base.update(kw)
    return CrawlConfig(**base)


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(make_pages_pdf(N_PAGES), schema=PAGES_SCHEMA).cache()


def _summary(res):
    log = Counter(
        (r["wave"], r["url"], r["status"]) for r in res.fetch_log.collect()
    )
    seen = {r["url"] for r in res.seen.collect()}
    return log, seen


@pytest.fixture(scope="module")
def baseline_run(spark, pages):
    """Uninterrupted-crawl reference, computed ONCE for the module and
    held only as Python summaries (the frames are released immediately):
    several kill/resume tests compare against it, and each extra full
    crawl in this module is real heap pressure on the shared session —
    the round-6 suite hit broadcast-build OOM from exactly that."""
    res = crawl(spark, pages, make_seeds_pdf().url.tolist(), _cfg())
    summary, waves = _summary(res), res.waves
    res.release()
    return summary, waves


def test_kill_and_resume_equals_uninterrupted(spark, pages, tmp_path,
                                              baseline_run):
    base_summary, base_waves = baseline_run
    seeds = make_seeds_pdf().url.tolist()

    ckpt = str(tmp_path / "ckpt")
    # "killed" after wave 1 (max_waves=2 simulates the kill point)
    partial = crawl(spark, pages, seeds, _cfg(max_waves=2, checkpoint_dir=ckpt))
    assert WaveCatalog(ckpt).last_committed_wave() == 1

    # plant an orphaned uncommitted wave dir (a real kill mid-write)
    orphan = os.path.join(ckpt, "frontier", "wave=9")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "garbage.parquet"), "wb") as f:
        f.write(b"not parquet")

    resumed = crawl(spark, pages, seeds, _cfg(checkpoint_dir=ckpt))
    assert _summary(resumed) == base_summary
    assert resumed.waves == base_waves
    partial.release()
    resumed.release()


def test_kill_and_resume_with_file_uri_checkpoint(spark, pages, tmp_path,
                                                  baseline_run):
    """The commit protocol must run when checkpoint_dir is a Hadoop URI,
    not just a local path: WaveCatalog routes table renames, the manifest
    tmp+rename and every read through the Hadoop FileSystem API for every
    base, so a kill/resume cycle against file:// must be byte-equal to the
    uninterrupted run."""
    base_summary, base_waves = baseline_run
    seeds = make_seeds_pdf().url.tolist()

    ckpt = "file://" + str(tmp_path / "ckpt_uri")
    partial = crawl(spark, pages, seeds, _cfg(max_waves=2, checkpoint_dir=ckpt))
    assert WaveCatalog(ckpt, spark).last_committed_wave() == 1
    # manifest really lives behind the URI (written via Hadoop FS)
    assert os.path.exists(str(tmp_path / "ckpt_uri" / "manifest.json"))

    resumed = crawl(spark, pages, seeds, _cfg(checkpoint_dir=ckpt))
    assert _summary(resumed) == base_summary
    assert resumed.waves == base_waves
    partial.release()
    resumed.release()


def test_resume_of_finished_crawl_is_noop(spark, pages, tmp_path):
    seeds = make_seeds_pdf().url.tolist()
    ckpt = str(tmp_path / "ckpt2")
    first = crawl(spark, pages, seeds, _cfg(max_waves=2, checkpoint_dir=ckpt))
    again = crawl(spark, pages, seeds, _cfg(max_waves=2, checkpoint_dir=ckpt))
    assert _summary(again) == _summary(first)
    first.release()
    again.release()


def test_manifest_records_lineage_and_metrics(spark, pages, tmp_path):
    seeds = make_seeds_pdf().url.tolist()
    ckpt = str(tmp_path / "ckpt3")
    crawl(spark, pages, seeds, _cfg(max_waves=2, checkpoint_dir=ckpt)).release()
    m = WaveCatalog(ckpt).read_manifest()
    assert m["committed_wave"] == 1
    for wave in ("0", "1"):
        lin = m["waves"][wave]["lineage"]
        assert set(lin) == {"frontier", "seen", "fetch_log_delta",
                            "findings_delta"}
        assert all(v["n_files"] >= 1 for v in lin.values())
        assert "n_frontier_next" in m["waves"][wave]["metrics"]


def test_seen_commits_are_deltas(spark, pages, tmp_path):
    """Per-wave seen checkpoints are O(delta), not O(cumulative): each
    committed seen table holds only that wave's new requests, the deltas
    partition the final seen set, and the manifest records kind + bytes."""
    seeds = make_seeds_pdf().url.tolist()
    ckpt = str(tmp_path / "ckpt_delta")
    res = crawl(spark, pages, seeds, _cfg(checkpoint_dir=ckpt))
    cat = WaveCatalog(ckpt)
    m = cat.read_manifest()
    last = m["committed_wave"]
    assert last >= 2  # need a real delta chain to make the point

    total_rows, seen_urls = 0, set()
    for k in range(last + 1):
        ent = m["waves"][str(k)]["lineage"]["seen"]
        assert ent["kind"] == ("full" if k == 0 else "delta")
        assert ent["bytes"] > 0
        rows = spark.read.parquet(ent["path"]).collect()
        total_rows += len(rows)
        seen_urls |= {(r["verb"], r["url"], r["post_data"]) for r in rows}
    final = {(r["verb"], r["url"], r["post_data"]) for r in res.seen.collect()}
    # disjoint deltas that exactly cover the final seen set
    assert total_rows == len(seen_urls) == len(final)
    assert seen_urls == final
    # and read_state reconstructs the full state at the last wave
    assert cat.read_state(spark, "seen", last).count() == len(final)
    res.release()


def test_seen_compaction_snapshot(spark, pages, tmp_path):
    """seen_compact_every=2: full snapshots at waves 0/2/4, deltas between;
    resume reads snapshot + at most one delta."""
    seeds = make_seeds_pdf().url.tolist()
    ckpt = str(tmp_path / "ckpt_compact")
    baseline = crawl(spark, pages, seeds, _cfg())
    partial = crawl(
        spark, pages, seeds,
        _cfg(max_waves=4, checkpoint_dir=ckpt, seen_compact_every=2),
    )
    m = WaveCatalog(ckpt).read_manifest()
    kinds = {
        k: v["lineage"]["seen"]["kind"] for k, v in m["waves"].items()
    }
    assert kinds == {"0": "full", "1": "delta", "2": "full", "3": "delta"}
    resumed = crawl(
        spark, pages, seeds, _cfg(checkpoint_dir=ckpt, seen_compact_every=2)
    )
    assert _summary(resumed) == _summary(baseline)
    for res in (baseline, partial, resumed):
        res.release()


def _downgrade_checkpoint_to_pre_v3(spark, ckpt):
    """Rewrite a committed wave-1 checkpoint into pre-contract-v3 shape:
    seen as one row per url with url-only hashes (no verb/post_data), POST
    rows stripped from the frontier and fetch-log deltas, identity-config
    keys dropped from the manifest — a checkpoint a pre-v3 engine could
    actually have written."""
    import shutil

    from pyspark.sql import functions as F

    cat = WaveCatalog(ckpt)
    assert cat.last_committed_wave() == 1
    n_shards = cat.manifest["config"]["n_shards"]
    stale_seen = (
        cat.read_state(spark, "seen", 1)
        .select("url").distinct()
        .withColumn("url_hash", F.xxhash64("url"))
        .withColumn(
            "shard", F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int")
        )
        .localCheckpoint(eager=True)
    )
    m = cat.read_manifest()

    def _rewrite(path, df):
        tmp = path + ".tmp"
        df.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(path)
        os.rename(tmp, path)

    # a pre-v3 engine had no POST requests anywhere: strip them from the
    # frontier (and drop its verb/post_data columns) and from the
    # pre-kill fetch-log deltas, so the emulated checkpoint is one a
    # pre-v3 engine could actually have written
    front_path = m["waves"]["1"]["lineage"]["frontier"]["path"]
    stale_frontier = (
        spark.read.parquet(front_path)
        .filter(F.col("verb") == "GET")
        .drop("verb", "post_data")
        .localCheckpoint(eager=True)
    )
    _rewrite(front_path, stale_frontier)
    for k in ("0", "1"):
        log_path = m["waves"][k]["lineage"]["fetch_log_delta"]["path"]
        only_get = (
            spark.read.parquet(log_path)
            .filter(F.col("verb") == "GET")
            .localCheckpoint(eager=True)
        )
        _rewrite(log_path, only_get)
    seen_ent = m["waves"]["1"]["lineage"]["seen"]
    _rewrite(seen_ent["path"], stale_seen)
    seen_ent["kind"] = "full"
    # pre-v3 manifests carried no identity-config keys and no lineage
    # schemas
    m["config"].pop("n_shards", None)
    for wave in m["waves"].values():
        for ent in wave["lineage"].values():
            ent.pop("schema", None)
    import json as _json

    with open(os.path.join(ckpt, "manifest.json"), "w") as f:
        _json.dump(m, f)


def test_pre_v3_checkpoint_resume_fails_closed(spark, pages, tmp_path):
    """A pre-contract-v3 checkpoint has no request identity: its frontier
    lacks verb/post_data and its seen set hashes urls alone. Resuming it
    would re-fetch requests it already crawled, so resume refuses it,
    naming the contract, and commits nothing."""
    seeds = make_seeds_pdf().url.tolist()
    ckpt = str(tmp_path / "ckpt_prev3")
    crawl(
        spark, pages, seeds, _cfg(max_waves=2, checkpoint_dir=ckpt)
    ).release()
    _downgrade_checkpoint_to_pre_v3(spark, ckpt)

    with pytest.raises(ValueError, match="contract v3") as err:
        crawl(spark, pages, seeds, _cfg(checkpoint_dir=ckpt))
    for col in ("frontier.verb", "frontier.post_data", "seen.verb"):
        assert col in str(err.value)
    assert WaveCatalog(ckpt).last_committed_wave() == 1


def test_remote_manifest_recovers_from_tmp_after_crash_window(spark, pages,
                                                              tmp_path):
    """The remote delete+rename fallback has a window where manifest.json
    is deleted but .manifest.tmp (fully written + synced) still holds the
    committed state. read_manifest must recover from the tmp instead of
    reporting a fresh store — otherwise a crash in exactly that window
    silently discards every committed wave."""
    import json
    import shutil

    seeds = make_seeds_pdf().url.tolist()
    ckpt_dir = tmp_path / "ckpt_crashwin"
    ckpt = "file://" + str(ckpt_dir)
    partial = crawl(spark, pages, seeds, _cfg(max_waves=2, checkpoint_dir=ckpt))
    partial.release()
    cat = WaveCatalog(ckpt, spark)
    assert cat.last_committed_wave() == 1

    # emulate the crash window: manifest deleted, tmp (the about-to-be
    # manifest) present and complete
    manifest = ckpt_dir / "manifest.json"
    shutil.copy(manifest, ckpt_dir / ".manifest.tmp")
    manifest.unlink()
    assert WaveCatalog(ckpt, spark).last_committed_wave() == 1
    # a read never writes the store (a reader in a live commit's window
    # must not race the writer's rename): the tmp stays where it is
    assert not manifest.exists() and (ckpt_dir / ".manifest.tmp").exists()
    # the writer heals it: a resumed crawl (here with no wave left to run)
    # renames the recovered tmp into place
    crawl(spark, pages, seeds, _cfg(max_waves=2, checkpoint_dir=ckpt)).release()
    assert manifest.exists() and not (ckpt_dir / ".manifest.tmp").exists()
    assert json.loads(manifest.read_text())["committed_wave"] == 1

    # a TORN tmp (mid-write crash) must not be trusted
    manifest.unlink()
    (ckpt_dir / ".manifest.tmp").write_text('{"committed_wave": 1, "wav')
    assert WaveCatalog(ckpt, spark).read_manifest() is None

    # nor a tmp that parses but is not a manifest (foreign JSON)
    for foreign in ('{"job": "other", "status": "ok"}', '{"committed_wave": 1}',
                    "[1, 2, 3]"):
        (ckpt_dir / ".manifest.tmp").write_text(foreign)
        assert WaveCatalog(ckpt, spark).read_manifest() is None
        assert not manifest.exists()


@pytest.mark.parametrize("kw", [
    dict(max_waves=3),
    # compaction at wave 2: the resume reads a seen chain of a compaction
    # (written from parquet read back) plus a delta (written from the
    # wave's fresh rows) — one recorded schema for both
    dict(max_waves=4, seen_compact_every=2),
], ids=["exact", "exact-compacting"])
def test_frontier_counts_and_resume_reads_launch_no_jobs(spark, pages,
                                                         tmp_path, kw):
    """The next frontier's size is an observed row count on its write, not
    a count job: every wave's manifest n_frontier_next must equal the row
    count of that wave's committed frontier table. And a resume reads its
    state lazily, with the schemas recorded in the lineage: crawl() on a
    catalog that needs no further wave — set-up and result assembly only —
    launches no job at all (no schema inference, no checkpoint, no count)."""
    import uuid

    seeds = make_seeds_pdf().url.tolist()
    ckpt = str(tmp_path / "ckpt_counts")
    crawl(spark, pages, seeds, _cfg(checkpoint_dir=ckpt, **kw)).release()
    m = WaveCatalog(ckpt).read_manifest()
    last = kw["max_waves"] - 1
    assert m["committed_wave"] == last
    counts = []
    for k in map(str, range(last + 1)):
        wave = m["waves"][k]
        rows = spark.read.parquet(wave["lineage"]["frontier"]["path"]).count()
        assert wave["metrics"]["n_frontier_next"] == rows, k
        counts.append(rows)
    assert all(n > 0 for n in counts)

    sc = spark.sparkContext
    group = f"resume-setup-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "crawl() on a resumed catalog")
    try:
        res = crawl(spark, pages, seeds, _cfg(checkpoint_dir=ckpt, **kw))
        sc.parallelize([0], 1).count()  # sentinel: the group's one own job
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    tracker = sc.statusTracker()
    for _ in range(100):  # job events reach the tracker asynchronously
        jobs = tracker.getJobIdsForGroup(group)
        if jobs:
            break
        time.sleep(0.1)
    assert len(jobs) == 1, [tracker.getJobInfo(j) for j in jobs]
    assert res.waves == kw["max_waves"]
    res.release()


def test_lineage_schema_is_the_parquet_read_schema(spark, tmp_path):
    """The schema a commit records is the one a parquet read of the table
    reports (every field, element and value nullable), whatever the
    nullability of the frame written. Otherwise a read_state chain mixing a
    table written from fresh rows with one written from read-back rows
    records two schemas, and the read falls back to schema inference."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    cat = WaveCatalog(str(tmp_path / "ckpt_schema"))
    fresh = spark.range(3).withColumn("xs", F.array("id"))  # non-nullable
    cat.commit_wave(0, {"t": fresh}, {})
    ent = cat.manifest["waves"]["0"]["lineage"]["t"]
    read_back = spark.read.parquet(ent["path"])
    assert StructType.fromJson(json.loads(ent["schema"])) == read_back.schema
    cat.commit_wave(1, {"t": read_back}, {}, state_kinds={"t": "delta"})
    assert cat.manifest["waves"]["1"]["lineage"]["t"]["schema"] == ent["schema"]
    assert cat.read_state(spark, "t", 1).count() == 6


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["plain", "file_uri"])
def test_catalog_without_spark_session_fails_loudly(tmp_path, scheme):
    """With no SparkSession anywhere, WaveCatalog raises instead of falling
    back to os.*: its every read and write goes through the Hadoop FS in
    the JVM. Run in a fresh interpreter that never starts a JVM (inside
    the suite a session is always active, and the catalog would use it)."""
    import subprocess
    import sys

    base = scheme + str(tmp_path / "ckpt_nosession")
    code = (
        "import sys\n"
        "from pyspark import SparkContext\n"
        "from sitecheck_spark.sources.catalog import WaveCatalog\n"
        "try:\n"
        "    WaveCatalog(sys.argv[1])\n"
        "except ValueError as e:\n"
        "    assert 'SparkSession' in str(e), e\n"
        "    assert SparkContext._active_spark_context is None\n"
        "    print('raised')\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code, base], cwd=root,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "raised"
    assert not (tmp_path / "ckpt_nosession").exists()


@pytest.mark.parametrize("scheme", ["", "file://"], ids=["plain", "file_uri"])
def test_manifest_stream_reports_hsync(spark, tmp_path, monkeypatch, scheme):
    """The stream that writes the manifest honors hsync, so the commit's
    hsync is a durability point for a plain path and for file:// alike.
    The local FS's checksummed stream reports no hsync capability (its
    hsync() only flushes); the catalog writes through the raw FS beneath."""
    from sitecheck_spark.sources import catalog as catalog_mod

    capable = []
    real_fs = catalog_mod._hadoop_fs

    class Spy:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def create(self, *args):
            out = self._fs.create(*args)
            capable.append(out.hasCapability("hsync"))
            return out

    def spy_fs(s, path):
        fs, hpath = real_fs(s, path)
        return Spy(fs), hpath

    monkeypatch.setattr(catalog_mod, "_hadoop_fs", spy_fs)
    cat = WaveCatalog(scheme + str(tmp_path / "ckpt_hsync"), spark)
    cat.commit_wave(0, {"t": spark.range(2)}, {})
    assert capable == [True]
    assert not (tmp_path / "ckpt_hsync" / ".manifest.json.crc").exists()


def test_manifest_with_stale_checksum_sidecar_reads(spark, tmp_path):
    """A file:// checkpoint whose manifest was written through the
    checksummed local FS carries a .manifest.json.crc. The catalog's raw
    rename replaces the manifest but not the sidecar, so a checksummed read
    of the next manifest would fail on it: reads go through the raw FS."""
    base = "file://" + str(tmp_path / "ckpt_crc")
    cat = WaveCatalog(base, spark)
    cat.commit_wave(0, {"t": spark.range(2)}, {})
    jvm = spark._jvm
    mpath = jvm.org.apache.hadoop.fs.Path(base + "/manifest.json")
    checksummed = mpath.getFileSystem(spark._jsc.hadoopConfiguration())
    body = (tmp_path / "ckpt_crc" / "manifest.json").read_bytes()
    out = checksummed.create(mpath, True)
    out.write(bytearray(body))
    out.close()
    assert (tmp_path / "ckpt_crc" / ".manifest.json.crc").exists()

    WaveCatalog(base, spark).commit_wave(1, {"t": spark.range(3)}, {},
                                         state_kinds={"t": "delta"})
    with pytest.raises(Exception, match="Checksum"):
        stream = checksummed.open(mpath)
        try:
            jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
    cat = WaveCatalog(base, spark)
    assert cat.last_committed_wave() == 1
    assert cat.read_state(spark, "t", 1).count() == 5


def test_wave_without_lineage_fails_closed(spark, tmp_path):
    """Reads follow the manifest lineage only. A wave whose lineage entry
    is missing raises, naming the checkpoint, the table and the wave,
    instead of probing the store for a directory the manifest does not
    vouch for."""
    ckpt = str(tmp_path / "ckpt_nolineage")
    cat = WaveCatalog(ckpt, spark)
    for k in range(2):
        cat.commit_wave(k, {"t": spark.range(k + 1)},
                        {"fetch_log": spark.range(k + 1)},
                        state_kinds={"t": "full" if k == 0 else "delta"})
    assert cat.read_deltas_through(spark, "fetch_log", 1).count() == 3

    m = cat.read_manifest()
    del m["waves"]["1"]["lineage"]["fetch_log_delta"]
    del m["waves"]["1"]["lineage"]["t"]
    assert os.path.isdir(os.path.join(ckpt, "fetch_log", "wave=1"))
    with pytest.raises(ValueError) as err:
        cat.read_deltas_through(spark, "fetch_log", 1)
    for part in (ckpt, "'fetch_log_delta'", "wave 1"):
        assert part in str(err.value)
    with pytest.raises(ValueError, match="wave 1 .*'t'"):
        cat.read_state(spark, "t", 1)
