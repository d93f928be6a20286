"""Wave-checkpoint catalog: atomic commits + resume-exactly (SURVEY.md §3.2 S4/R3).

The reference suspends/resumes by pickling its queue + seen set (SURVEY.md
§1.1). Here every crawl wave commits its post-wave state — the frontier
full-state (it is the small active set), `seen` as a per-wave DELTA with a
periodic full compaction snapshot (the cumulative seen is the one state
table that grows without bound; see commit_wave/read_state) — plus this
wave's fetch-log/findings deltas and metrics, with lineage recorded per
table.

Commit protocol (works on any rename-atomic filesystem; the seam where an
Iceberg catalog drops in — snapshot commit replaces the manifest rename, and
no Iceberg runtime jar exists in this container, so parquet it is):

    1. write each table to   <base>/.tmp/<uuid>/
    2. rename into place     <base>/<table>/wave=<k>/
    3. write manifest JSON to <base>/.manifest.tmp, hsync,
       rename -> <base>/manifest.json          <- THE commit point

Every step, for every base (plain path or URI), runs through the Hadoop
FileSystem API; on the local FS, through its raw FS, whose stream makes
the hsync a real fsync.

Steps 1-2 run for all of a wave's tables at once, one thread per table
(run_concurrently), so a commit costs the slowest write, not the sum. The
write is the crawl's only materialization of its state: the next wave reads
the committed parquet back, with the schema the table's lineage entry
records, so neither the read nor a resume launches a schema-inference job.

A job killed anywhere before step 3 leaves the previous manifest intact:
resume re-reads the last committed wave's state and recomputes the wave that
died. Orphaned table dirs from the dead wave are overwritten on rewrite and
ignored by readers (readers only follow the manifest).

The catalog has a single writer, so a WaveCatalog reads the manifest once,
on first use, keeps it in the instance and updates that copy on commit.
"""

from __future__ import annotations

import functools
import json
import uuid
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, TypeVar

from py4j.java_gateway import is_instance_of
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

T = TypeVar("T")

MANIFEST = "manifest.json"


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) via the JVM Hadoop FS API — speaks every
    Spark-readable URI scheme (file:, hdfs:, s3a:, ...), and resolves a
    plain path against fs.defaultFS as Spark's writer does. For a
    ChecksumFileSystem (the local FS) it is the raw FS beneath: the
    checksummed stream reports no hsync capability, so its hsync() only
    flushes, and the raw FS neither writes nor checks .crc sidecars."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if is_instance_of(spark.sparkContext._gateway, fs,
                      "org.apache.hadoop.fs.ChecksumFileSystem"):
        fs = fs.getRawFileSystem()
    return fs, hpath


# -- bucketed TABLE layout (zero-html-shuffle fetch) -------------------------

PAGES_TABLE = "pages_bucketed"


def write_pages_bucketed_table(
    pages: DataFrame, n_buckets: int = 64, table: str = PAGES_TABLE,
    path: str | None = None,
) -> None:
    """Spark bucketed-table stand-in for Iceberg's bucket(N, url) — the
    storage-partitioned-join shape. The table's scan reports its hash
    bucketing to Catalyst, so the per-wave fetch join shuffles ONLY the slim
    elected-url side into the table's buckets and the version-dedup agg
    reuses the join partitioning: html:binary — the dominant bytes of a
    crawl — crosses ZERO exchanges per wave (plan-asserted in
    tests/test_plans.py). crawl() detects the table from its scan
    (bucketed_on_url); no config selects the shape.

    Wave parallelism in this mode equals n_buckets (the join/agg/parse
    stage inherits the table's buckets) — size n_buckets >= the cluster's
    cores. Requires a session catalog (warehouse dir); pass the result of
    read_pages_table (or register_pages_bucketed_table) to crawl()."""
    w = (
        pages.write.mode("overwrite").format("parquet")
        .bucketBy(n_buckets, "url").sortBy("url")
    )
    if path is not None:
        w = w.option("path", path)  # external table: files survive the session
    w.saveAsTable(table)


def bucketed_on_url(pages: DataFrame) -> bool:
    """True when `pages`' planned scan is hash-partitioned on the `url`
    attribute alone, as a bucketed pages table's is (and a plain parquet
    or local frame's, or any scan with bucketing disabled, is not).
    crawl() picks its fetch join from this. It only plans the query: no
    Spark job."""
    part = pages._jdf.queryExecution().sparkPlan().outputPartitioning()
    if part.getClass().getSimpleName() != "HashPartitioning":
        return False
    exprs = part.expressions()
    if exprs.size() != 1:
        return False
    key = exprs.apply(0)
    return (key.getClass().getSimpleName() == "AttributeReference"
            and key.name() == "url")


PAGES_DDL = "url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING"


def _normalize_location(loc: str) -> str:
    for scheme in ("file://", "file:"):
        if loc.startswith(scheme):
            loc = loc[len(scheme):]
            break
    return loc.rstrip("/")


def verify_bucketed_table_layout(
    spark: SparkSession, table: str, n_buckets: int, sample: int = 100
) -> None:
    """Guard that a bucketed table's FILES were written under the declared
    spec, in two sweeps. (1) Metadata-only: EVERY data file's name must
    carry a parseable bucket id (part-*-_NNNNN.c*) below n_buckets — a
    name that does not parse fails closed instead of slipping past the
    data check as a null. (2) Data: up to `sample` files, spread
    round-robin across DISTINCT bucket ids (never just the first file a
    .limit() happens to scan), are read — url column only — and every row
    must satisfy bucket_id == pmod(hash(url), n_buckets), Spark's own
    bucketing function (Murmur3, seed 42). Spark trusts the declaration,
    so files bucketed under a different modulus would silently drop join
    matches (phantom 404s) instead of erroring."""
    import re

    info = {
        r["col_name"].strip(): (r["data_type"] or "").strip()
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
    }
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(info["Location"])
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    by_bucket: dict[int, list[str]] = {}
    saw_subdir = False
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if name.startswith(("_", ".")):
            continue  # writer bookkeeping (_temporary, .spark-staging, ...)
        if st.isDirectory():
            saw_subdir = True
            continue
        m = re.search(r"_(\d{5})\.", name)
        if not m or int(m.group(1)) >= n_buckets:
            raise ValueError(
                f"table {table}: data file {name!r} has no parseable bucket "
                f"id below {n_buckets} — not written under the declared "
                f"bucket spec"
            )
        by_bucket.setdefault(int(m.group(1)), []).append(
            st.getPath().toString()
        )
    chosen: list[str] = []
    for files in by_bucket.values():
        files.sort()
    while len(chosen) < sample and any(by_bucket.values()):
        for b in sorted(by_bucket):  # round-robin: one file per bucket
            if by_bucket[b] and len(chosen) < sample:
                chosen.append(by_bucket[b].pop())
    if not chosen:
        # Distinguish "truly empty table" from "no data files at the ROOT":
        # a nested/partitioned layout (or hand-laid subdirectories) would
        # otherwise make this guard vacuously pass without checking a single
        # file. Spark's bucketed-table writer lays files flat at the root,
        # so any subdirectory — or a table that has rows despite an empty
        # root listing — means the layout is not the one this guard knows
        # how to verify; fail closed.
        if saw_subdir or spark.table(table).limit(1).count() > 0:
            raise ValueError(
                f"table {table}: no data files at the table root "
                f"{'(subdirectories present)' if saw_subdir else '(but the table has rows)'} "
                f"— nested layouts cannot be bucket-verified; refusing to "
                f"trust the declared spec"
            )
        return  # truly empty table: nothing to verify
    bad = (
        spark.read.parquet(*chosen)
        .select(
            "url",
            F.regexp_extract(F.input_file_name(), r"_(\d{5})\.", 1)
            .alias("_fb_raw"),
        )
        .withColumn(
            "_file_bucket",
            F.when(F.col("_fb_raw") != "", F.col("_fb_raw").cast("int")),
        )
        .filter(
            F.col("_file_bucket").isNull()  # unparseable fails closed
            | (F.pmod(F.hash("url"), F.lit(n_buckets))
               != F.col("_file_bucket"))
        )
        .count()
    )
    if bad:
        raise ValueError(
            f"table {table}: file bucket ids do not match "
            f"pmod(hash(url), {n_buckets}) — files were written under a "
            f"different bucket spec than declared"
        )


def register_pages_bucketed_table(
    spark: SparkSession, path: str, n_buckets: int = 64,
    table: str = PAGES_TABLE, schema_ddl: str = PAGES_DDL,
    verify_sample: int = 100,
) -> DataFrame:
    """Re-declare an existing bucketed-table directory in THIS session's
    catalog. The default (non-Hive) catalog is session-scoped, so the
    bucketing metadata — the part that makes the fetch join exchange-free —
    must be re-registered per session; the files themselves carry the
    bucket ids in their names and are reused as-is. The declared spec MUST
    match the writing spec (same n_buckets, same cluster column) — Spark
    trusts the declaration, so this guards the trust: an existing catalog
    entry with a different location/bucket spec raises instead of being
    silently reused, and a file sample is checked against the declared
    modulus (verify_bucketed_table_layout; verify_sample=0 skips)."""
    if spark.catalog.tableExists(table):
        info = {
            r["col_name"].strip(): (r["data_type"] or "").strip()
            for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
        }
        have_n = info.get("Num Buckets", "")
        have_cols = info.get("Bucket Columns", "")
        have_loc = _normalize_location(info.get("Location", ""))
        want_loc = _normalize_location(path)
        problems = []
        if have_n != str(n_buckets):
            problems.append(f"num buckets {have_n!r} != {n_buckets}")
        if have_cols.replace("`", "") not in ("[url]",):
            problems.append(f"bucket columns {have_cols!r} != [url]")
        if have_loc != want_loc:
            problems.append(f"location {have_loc!r} != {want_loc!r}")
        if problems:
            raise ValueError(
                f"table {table} already exists with a different spec "
                f"({'; '.join(problems)}) — drop it or register under "
                f"another name"
            )
    else:
        spark.sql(
            f"CREATE TABLE {table} ({schema_ddl}) USING parquet "
            f"CLUSTERED BY (url) SORTED BY (url) INTO {n_buckets} BUCKETS "
            f"LOCATION '{path}'"
        )
    if verify_sample:
        verify_bucketed_table_layout(spark, table, n_buckets, verify_sample)
    return spark.table(table)


def read_pages_table(spark: SparkSession, table: str = PAGES_TABLE) -> DataFrame:
    return spark.table(table)


STATE_TABLES = ("frontier", "seen")
DELTA_TABLES = ("fetch_log", "findings")


def _nullable(dt: DataType) -> DataType:
    """`dt` with every field, element and value nullable: the schema a
    parquet read of data written with `dt` reports."""
    if isinstance(dt, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType), True, f.metadata)
                           for f in dt.fields])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def ckpt_label(name: str, kind: str | None = None) -> str:
    """Call-site label of the job that materializes table `name` of a wave:
    ckpt_<name>, or ckpt_<name>_<kind> for a state table committed by kind
    (seen: ckpt_seen_full / ckpt_seen_delta)."""
    return f"ckpt_{name}_{kind}" if kind else f"ckpt_{name}"


def run_concurrently(
    spark: SparkSession, jobs: dict[str, tuple[str, Callable[[], T]]]
) -> dict[str, T]:
    """Run every (call-site label, fn) job on its own thread; returns
    {name: fn()}. Sequentially a wave's independent writes cost the sum of
    their latencies, mostly idle barrier time; in parallel, the max. Each
    job inherits the caller's local properties (job group, description,
    pool) through its own copy, on which it sets its label: the label names
    the stages of every Spark job fn launches."""

    def run(label, fn):
        spark.sparkContext.setLocalProperty("callSite.short", label)
        return fn()

    with ThreadPoolExecutor(max_workers=max(1, len(jobs))) as pool:
        # one wrapper per job: each captures its own copy of the properties
        futures = {
            name: pool.submit(inheritable_thread_target(spark)(run), label, fn)
            for name, (label, fn) in jobs.items()
        }
        return {name: f.result() for name, f in futures.items()}


class WaveCatalog:
    """Wave-granular checkpoint store with an atomic rename-commit manifest.

    `base_dir` is a plain path or any Spark-readable URI (file://, hdfs://,
    s3a://, ...). Every read and write — table rename-into-place, manifest
    tmp+hsync+rename, manifest read — goes through the JVM Hadoop
    FileSystem API (_hadoop_fs), one code path for every base. A plain path
    resolves against fs.defaultFS, as Spark's own writer resolves it, so the
    driver's renames and the executors' writes see the same filesystem.
    Under the local FS the catalog uses the raw FS beneath its checksums,
    whose stream honors hsync: the manifest is hsync'd to disk before the
    rename that commits it. Caveat inherited from the FS: rename is atomic
    on HDFS/file, copy-based on raw S3 (use a consistent committer layer
    there, as any Spark job must).

    `spark` defaults to the active SparkSession; with none, the catalog
    raises (the Hadoop FS lives in the JVM).

    Single writer: one crawl() at a time commits to a base directory. The
    instance therefore reads the manifest from the store once, on first use
    (`manifest`), keeps it, and updates its copy on every commit_wave — a
    second writer committing behind an instance's back would go unseen.
    read_manifest() always re-reads the store.

    Every lineage entry records the table's schema (Spark's JSON form, all
    fields nullable, as any parquet read returns them), so reads of
    committed tables pass it to the parquet reader and launch no
    schema-inference job. Entries from before schemas were recorded fall
    back to inference. Reads follow the lineage only: a wave without a
    lineage entry for the table read raises.
    """

    def __init__(self, base_dir: str, spark: SparkSession | None = None):
        self.base = base_dir.rstrip("/")
        self.spark = spark or SparkSession.getActiveSession()
        if self.spark is None:
            raise ValueError(
                f"WaveCatalog base {self.base!r}: no active SparkSession — "
                f"pass the SparkSession so the Hadoop FileSystem API is "
                f"reachable"
            )
        self._manifest: dict | None = None
        self._loaded = False
        # every catalog path lives under the base, on its FS; the Path class
        # is resolved once (each JVM-view lookup is a Py4J round trip)
        self._fs, base_path = _hadoop_fs(self.spark, self.base)
        self._path = self.spark._jvm.org.apache.hadoop.fs.Path
        self._fs.mkdirs(base_path)

    # -- manifest ----------------------------------------------------------

    def _manifest_path(self) -> str:
        return self.base + "/" + MANIFEST

    def _read_text(self, path: str) -> str | None:
        hpath = self._path(path)
        if not self._fs.exists(hpath):
            return None
        stream = self._fs.open(hpath)
        try:
            return self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    @property
    def manifest(self) -> dict | None:
        """The manifest as this instance knows it: read from the store on
        first use, then kept and updated by commit_wave."""
        if not self._loaded:
            self.read_manifest()
        return self._manifest

    def read_manifest(self) -> dict | None:
        """Read the manifest from the store and refresh the instance copy."""
        self._manifest, self._loaded = self._load_manifest(), True
        return self._manifest

    def _load_manifest(self) -> dict | None:
        body = self._read_text(self._manifest_path())
        if body is not None:
            return json.loads(body)
        # The delete+rename fallback in commit_wave has a crash window
        # between the delete and the rename where no manifest exists — but
        # the fully-written, hsync'd .manifest.tmp does. Recover from it
        # rather than silently discarding every committed wave (a clean
        # restart is correct but defeats the checkpoint store's purpose in
        # exactly the crash it exists to survive). Only a tmp that parses
        # AND has the manifest's shape is trusted: a torn tmp (mid-write
        # crash) or a foreign JSON file reads as no manifest.
        body = self._read_text(self.base + "/.manifest.tmp")
        if body is None:
            return None
        try:
            m = json.loads(body)
        except ValueError:
            return None
        if not (isinstance(m, dict) and "committed_wave" in m
                and isinstance(m.get("waves"), dict)):
            return None
        return m

    def heal_manifest(self) -> None:
        """Writer side of the tmp recovery above: when the manifest this
        instance holds came from .manifest.tmp, rename the tmp into place,
        so later readers take the normal path. Only the single writer calls
        this: reads never write the store, because a reader's rename could
        land in the middle of the writer's own delete+rename."""
        if self.manifest is None:
            return
        mpath = self._path(self._manifest_path())
        if not self._fs.exists(mpath):
            self._fs.rename(self._path(self.base + "/.manifest.tmp"), mpath)

    def last_committed_wave(self) -> int | None:
        m = self.manifest
        return None if m is None else m["committed_wave"]

    # -- table IO ----------------------------------------------------------

    def _table_dir(self, name: str, wave: int) -> str:
        return f"{self.base}/{name}/wave={wave}"

    def _write_table(self, df: DataFrame, name: str, wave: int) -> dict:
        """Write `df` to a tmp dir and rename it into <name>/wave=<k>/;
        returns the lineage entry (path, n_files, bytes, schema)."""
        dest = self._table_dir(name, wave)
        tmp = f"{self.base}/.tmp/{uuid.uuid4().hex}"
        df.write.mode("overwrite").parquet(tmp)
        fs, dpath = self._fs, self._path(dest)
        if fs.exists(dpath):  # orphan from a killed uncommitted wave
            fs.delete(dpath, True)
        fs.mkdirs(dpath.getParent())
        if not fs.rename(self._path(tmp), dpath):
            raise IOError(f"rename {tmp} -> {dest} failed")
        sizes = [
            st.getLen() for st in fs.listStatus(dpath)
            if st.getPath().getName().endswith(".parquet")
        ]
        return {"path": dest, "n_files": len(sizes), "bytes": sum(sizes),
                "schema": _nullable(df.schema).json()}

    def _lineage(self, name: str, wave: int) -> dict:
        """Wave `wave`'s lineage entry for table `name`; raises when the
        manifest has none (reads follow the lineage, never a probe)."""
        ent = (self.manifest or {}).get("waves", {}).get(str(wave), {}) \
            .get("lineage", {}).get(name)
        if ent is None:
            raise ValueError(
                f"checkpoint {self.base!r}: wave {wave} has no lineage entry "
                f"for table {name!r} — the manifest does not describe this "
                f"checkpoint; start a fresh checkpoint_dir"
            )
        return ent

    @staticmethod
    def _read_parquet(
        spark: SparkSession, paths: list[str], entries: list[dict]
    ) -> DataFrame:
        """Parquet read of committed paths, with the recorded schema when
        every entry carries the same one (no schema-inference job)."""
        schemas = {e.get("schema") for e in entries}
        reader = spark.read
        if len(schemas) == 1 and None not in schemas:
            reader = reader.schema(StructType.fromJson(json.loads(schemas.pop())))
        return reader.parquet(*paths)

    def read_table(self, spark: SparkSession, name: str, wave: int) -> DataFrame:
        ent = self._lineage(name, wave)
        return self._read_parquet(spark, [ent["path"]], [ent])

    def read_state(self, spark: SparkSession, name: str, wave: int) -> DataFrame:
        """Full state of `name` as of `wave`: the newest kind="full" snapshot
        at or before `wave`, unioned with every kind="delta" commit after it
        (delta rows are disjoint by construction, so plain union IS the
        state). Tables committed full-state every wave — the frontier, and
        every pre-delta-era checkpoint (lineage entries without a "kind") —
        degrade to a single-path read."""
        entries: list[dict] = []
        for k in range(wave, -1, -1):
            ent = self._lineage(name, k)
            entries.append(ent)
            if ent.get("kind", "full") == "full":
                break
        entries.reverse()
        return self._read_parquet(spark, [e["path"] for e in entries], entries)

    def read_deltas_through(self, spark: SparkSession, name: str, wave: int) -> DataFrame:
        """Per-wave delta tables (fetch_log / findings) unioned through
        `wave`. Paths come from the manifest lineage — the commit point, so
        orphaned dirs from a killed wave are never read."""
        entries = [self._lineage(f"{name}_delta", k) for k in range(wave + 1)]
        return self._read_parquet(spark, [e["path"] for e in entries], entries)

    # -- commit ------------------------------------------------------------

    def commit_wave(
        self,
        wave: int,
        state: dict[str, DataFrame],
        deltas: dict[str, DataFrame],
        metrics: dict | Callable[[], dict] | None = None,
        config: dict | None = None,
        state_kinds: dict[str, str] | None = None,
    ) -> None:
        """Write every state and delta table of `wave` concurrently
        (run_concurrently, each job under its ckpt_label), each to its own
        tmp dir renamed into place, then commit the manifest.

        state_kinds marks a state table's commit as "full" (default) or
        "delta" (this wave's new rows only; read back via read_state).
        Delta commits keep per-wave checkpoint I/O O(wave delta) instead of
        O(cumulative state) — the difference between linear and quadratic
        total checkpoint bytes over a long crawl. `metrics` may be a
        callable: it runs once the tables are written, so it can read
        Observations attached to the written frames."""
        kinds = state_kinds or {}
        jobs = {
            name: (ckpt_label(name, kinds.get(name)),
                   functools.partial(self._write_table, df, name, wave))
            for name, df in state.items()
        }
        for name, df in deltas.items():
            jobs[f"{name}_delta"] = (
                ckpt_label(name),
                functools.partial(self._write_table, df, name, wave),
            )
        lineage = run_concurrently(self.spark, jobs)
        for name in state:
            lineage[name]["kind"] = kinds.get(name, "full")
        if callable(metrics):
            metrics = metrics()

        m = dict(self.manifest or {})
        m["committed_wave"] = wave
        if config is not None:
            m["config"] = config
        m["waves"] = {**m.get("waves", {}),
                      str(wave): {"lineage": lineage, "metrics": metrics or {}}}
        body = json.dumps(m, indent=1)
        # tmp + hsync + rename: the bytes are durable before the rename
        # makes them the manifest
        fs, tpath = self._fs, self._path(self.base + "/.manifest.tmp")
        out = fs.create(tpath, True)
        try:
            out.write(bytearray(body.encode("utf-8")))
            out.hsync()
        finally:
            out.close()
        mpath = self._path(self._manifest_path())
        # The local FS's rename replaces the manifest atomically (rename(2));
        # HDFS and object stores refuse to rename onto an existing file.
        if not fs.rename(tpath, mpath):
            jvm = self.spark._jvm
            try:
                # FileContext rename(OVERWRITE): atomic on HDFS — no
                # manifest-less window for a concurrent reader.
                fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                    tpath.toUri(), self.spark._jsc.hadoopConfiguration()
                )
                rename_cls = getattr(jvm.org.apache.hadoop.fs, "Options$Rename")
                opts = self.spark.sparkContext._gateway.new_array(rename_cls, 1)
                opts[0] = rename_cls.OVERWRITE
                fc.rename(tpath, mpath, opts)
            except Exception:
                # FS without a FileContext binding (some object stores):
                # delete+rename — a crash between the two leaves the valid
                # .manifest.tmp behind, never a corrupt manifest.
                if fs.exists(mpath):
                    fs.delete(mpath, False)
                if not fs.rename(tpath, mpath):
                    raise IOError(f"manifest rename failed under {self.base}")
        self._manifest, self._loaded = m, True
