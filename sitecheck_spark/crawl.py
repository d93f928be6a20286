"""The crawl engine: BFS URL-frontier as iterative DataFrame programs.

Implements CRAWL CONTRACT v3 (golden.py) Spark-first (SURVEY.md §3.2):
request identity is the (verb, url, post_data) triple — method=post forms
become POST requests crawled independently of their GET twins.

    seeds -> frontier(wave 0)
    per wave:
      1. budgets   = robots crawl-delay -> per-netloc budget (join, broadcast
                     when small)
      2. elect     = two-phase salted top-budget per netloc window (W1/W2/J5:
                     phase 1 ranks within (netloc, salt) so one skew host
                     cannot pin a single reducer; phase 2 ranks the <= B*salts
                     survivors per netloc — provably equal to the unsalted
                     global per-host top-B), computed ONCE per wave as one
                     persisted frame with a win flag; elected and remainder
                     are filters of it
      3. fetch     = elected left-join latest pages on url (J1), in the one
                     shape the pages scan selects (bucketed_on_url): a
                     bucketed pages table (HashPartitioning(url, n)) takes a
                     plain equi-join whose dedup agg reuses the join
                     partitioning, so html crosses no exchange; any other
                     pages take the broadcast elected urls, then one
                     repartition(n_parse, url), so html crosses one
      4. parse     = ONE vectorized mapInPandas pass (C6) emitting outlinks +
                     text + title + meta + comments + a status column (fetch
                     misses pass through as 404 rows, so the html-carrying
                     join output is never cached); the only place html is
                     ever read (column pruning, SURVEY.md §4); parsed is
                     checkpointed
      5. checkers  = DataFrame builders over parsed (C2..C5): every
                     checker, spelling's dictionary subtraction and context
                     included, fused into one scan of the parsed checkpoint
                     (C7 readability is not a crawl checker)
      6. cand      = explode(outlinks) ∪ meta-refresh targets (hop-capped
                     redirect chains) -> ext/domain/depth filters ->
                     groupBy(url).min(struct(depth, referrer, redirects))
      7. new       = exact left_anti join of the candidates against the
                     seen union on request identity (verb, url, post_data)
      8. gate      = robots verdicts on the *new* urls only (R1) — each url
                     is gated exactly once in its lifetime; gated is
                     checkpointed
      9. frontier' = politeness remainder ∪ gated-new;  seen' = seen ∪ new
     10. materialize = each state/delta table written ONCE, all concurrently:
                     in resumable mode the atomic wave commit (S4/R3) is the
                     write and the next wave reads the committed parquet
                     back (resume-exactly); otherwise localCheckpoint. The
                     next frontier's size is an observed row count of that
                     write — no count job

Scale notes (10^10-URL frontier): all state is DataFrames — nothing
materializes on the driver. Cross-wave lineage is truncated every wave by
that one materialization (the committed parquet tables in resumable mode,
localCheckpoint otherwise), so plans stay O(1) per wave and no table is
written twice. Within a wave, the tables read by several later jobs are
checkpoints (budgets, rules, parsed, gated) rather than caches, so no plan
nests another cached plan: Spark renders a cached plan into the text of
every query over it, twice under AQE, and that text is rebuilt on every
adaptive re-plan. The election alone stays a cache, filled by the parse
job. "Already seen" has one answer: the exact anti-join against the seen
table. The seen table still shuffles on its join keys every wave; keeping it
hash-partitioned on its identity `shard` column across waves, so that only
the candidates shuffle, is the open scale step.
"""

from __future__ import annotations

import functools
import re
import time
from dataclasses import dataclass, field
from typing import Callable, Iterable, Iterator, TypeVar

import pandas as pd

from pyspark import SparkContext
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from sitecheck_spark import robots as robots_mod
from sitecheck_spark.checkers import collect_dictionary, wave_findings_pass
from sitecheck_spark.extract import PARSED_SCHEMA, parse_pages_batch
from sitecheck_spark.functions.urls import canonicalize, netloc_of
from sitecheck_spark.golden import IGNORED_EXTENSIONS
from sitecheck_spark.sources.catalog import (
    WaveCatalog,
    bucketed_on_url,
    ckpt_label,
    run_concurrently,
)

T = TypeVar("T")


@dataclass
class CrawlConfig:
    budget_per_host: int = 10
    max_waves: int = 50
    max_depth: int = 10
    max_redirects: int = 5             # meta-refresh chain hop cap
    allowed_netlocs: list[str] | None = None  # default: seed netlocs
    n_shards: int = 32                 # modulus of seen's identity `shard` column
    salt_buckets: int = 8
    checkpoint_dir: str | None = None  # enables resumable mode (catalog.py)
    # Resumable mode commits `seen` as per-wave DELTAS (this wave's new
    # requests) with a full compaction snapshot every k waves: per-wave
    # checkpoint I/O is O(new urls) instead of O(|seen|), and resume reads
    # at most k-1 deltas on top of the newest snapshot. At a 10^10-URL
    # frontier the cumulative seen dwarfs any single wave's delta — full
    # per-wave snapshots were the one super-linear-in-waves checkpoint cost.
    seen_compact_every: int = 16
    run_checkers: bool = True
    verbose: bool = False
    # Attribution mode for the scaling telemetry: run the wave chain's
    # materializations under DISTINCT callSite labels (wave_elect /
    # wave_fetch_parse / wave_probe_gate) instead of one wave_chain label,
    # so N-vs-4N stage tables localize co-scheduling inflation to a
    # sub-phase. It adds one job per wave (elected is counted on its own,
    # which fills the election cache the parse job would fill); total work
    # is otherwise unchanged — keep False outside benchmarking.
    phase_labels: bool = False


@dataclass
class CrawlResult:
    fetch_log: DataFrame
    findings: DataFrame
    seen: DataFrame          # (url, verb, post_data, url_hash, shard)
    waves: int = 0
    metrics: list[dict] = field(default_factory=list)
    _cached: list = field(default_factory=list, repr=False)

    def release(self) -> None:
        """Unpersist every RDD this crawl left cached (final state + wave
        deltas). Call when done with the result — repeated crawls in one
        session otherwise accumulate cached blocks and degrade."""
        for df in self._cached:
            try:
                df.unpersist()
            except Exception:
                pass
        self._cached.clear()


FINDINGS_SCHEMA = "module string, url string, wave int, detail string, referrer string"
_EXT_PATTERN = "(?i)(?:" + "|".join(re.escape(e) for e in IGNORED_EXTENSIONS) + ")$"
_ISIN_MAX_NETLOCS = 64  # above this, the allow-list joins instead of inlining
_WAVE_ROWS_PER_PARTITION = 12_500  # frontier rows per wave-scoped shuffle partition
# Partitions for the vectorized parse pass: max(2 * defaultParallelism,
# frontier rows / _PARSE_ROWS_PER_PARTITION). AQE coalesces exchanges by
# shuffle BYTES, which starves the downstream Python stage of parallelism
# (a 200 MB wave coalesces to ~4 tasks on a 32-core cluster). The first
# term keeps every core busy on small waves, the second caps PARTITION SIZE
# on big waves — sizing by cores alone hands a small cluster multi-GB
# partitions (html + parse output) and OOMs its executors; partition count
# must scale with data, not cluster size.
_PARSE_ROWS_PER_PARTITION = 20_000


def latest_pages(pages: DataFrame) -> DataFrame:
    """As-of pick of the newest warc_ts version per url (W3). crawl()
    applies it to each wave's fetch-join matches, which arrive partitioned
    on url, so it adds no exchange there.

    max_by instead of a window: one partial-aggregating shuffle, no sort —
    the right plan when versions-per-url is small and urls are many. The
    tie-break is TOTAL — max over (warc_ts, md5(html)) — so a corpus with
    duplicate (url, warc_ts) rows and differing html still yields a
    deterministic pick (golden.py applies the identical rule).
    """
    return pages.groupBy("url").agg(
        F.max_by("html", F.struct("warc_ts", F.md5("html"))).alias("html")
    )


def robots_from_pages(pages: DataFrame) -> DataFrame:
    """R1: robots.txt bodies live in the corpus itself."""
    return (
        pages.filter(F.col("url").endswith("/robots.txt"))
        .groupBy(F.parse_url("url", F.lit("HOST")).alias("netloc"))
        .agg(F.max_by("text", F.struct("warc_ts", F.md5("text"))).alias("rules"))
    )


_BUDGET_SCHEMA = "netloc string, budget int"


def _budgets_fn(budget_per_host: int):
    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math

        for pdf in batches:
            budgets = []
            for rules in pdf["rules"]:
                d = robots_mod.crawl_delay(rules)
                budgets.append(
                    max(1, math.floor(budget_per_host / d)) if d else budget_per_host
                )
            yield pd.DataFrame({"netloc": pdf["netloc"], "budget": budgets})

    return fn


_RULES_SCHEMA = "netloc string, seq int, prefix string, allow boolean"


def _compile_rules_batches(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Compile robots.txt bodies ONCE into (netloc, seq, prefix, allow) rows.

    Uses urllib.robotparser's own parsed entries so semantics (first matching
    rule in file order wins, empty-Disallow -> allow) are exactly its
    semantics: RuleLine.path is already robotparser-quoted, and the gate
    matches it against robots.match_path(url) — the byte-identical string
    can_fetch itself uses — so the JVM prefix join reproduces robotparser
    verdicts exactly (tests/test_robots.py::test_gate_matches_robotparser).
    """
    for pdf in batches:
        rows = []
        for netloc, rules in zip(pdf["netloc"], pdf["rules"]):
            if rules is None or (isinstance(rules, float) and pd.isna(rules)):
                continue
            try:
                rp = robots_mod._build_parser(rules)
            except Exception:
                continue
            entry = None
            for e in rp.entries:
                if e.applies_to(robots_mod.USER_AGENT):
                    entry = e
                    break
            if entry is None:
                entry = rp.default_entry
            if entry is None:
                continue
            for i, line in enumerate(entry.rulelines):
                rows.append((netloc, i, line.path, bool(line.allowance)))
        yield pd.DataFrame(rows, columns=["netloc", "seq", "prefix", "allow"])


def _with_identity(df: DataFrame, n_shards: int) -> DataFrame:
    """Request identity (CRAWL CONTRACT v3): the hashed (verb, url,
    post_data) triple — the reference dedups requests, not urls (SURVEY.md
    §1.1: Request carries verb + post data). DataFrames without request
    columns get GET/'' defaults, so url-only callers hash identically to a
    plain GET."""
    if "verb" not in df.columns:
        df = df.withColumn("verb", F.lit("GET"))
    if "post_data" not in df.columns:
        df = df.withColumn("post_data", F.lit(""))
    return df.withColumn(
        "url_hash", F.xxhash64("verb", "url", "post_data")
    ).withColumn("shard", F.pmod(F.col("url_hash"), F.lit(n_shards)).cast("int"))


def _require_contract_v3(base: str, frontier: DataFrame, seen: DataFrame) -> None:
    """Fail closed on a checkpoint written before CRAWL CONTRACT v3: its
    frontier lacks the redirect counter or the request identity columns, or
    its seen set lacks the identity (and hashes urls alone). Resuming it
    would re-fetch requests it already crawled."""
    missing = [f"{name}.{col}"
               for name, df, cols in (
                   ("frontier", frontier, ("redirects", "verb", "post_data")),
                   ("seen", seen, ("verb", "post_data")))
               for col in cols if col not in df.columns]
    if missing:
        raise ValueError(
            f"checkpoint {base} predates crawl contract v3 (missing "
            f"{', '.join(missing)}): it cannot be resumed; start the crawl "
            f"in a new checkpoint_dir")


def crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: list[str] | DataFrame,
    config: CrawlConfig | None = None,
    robots: DataFrame | None = None,
    dictionary: DataFrame | None = None,
    host_components: DataFrame | None = None,
) -> CrawlResult:
    """host_components: optional (netloc string, component long/string) —
    typically operators.graph.connected_components over the host link
    graph. When given, the politeness budget binds per COMPONENT (mirror
    cluster) instead of per host: member hosts share one budget pool sized
    by the politest member (min of their per-host budgets), so a site
    mirrored across n hostnames gets budget, not budget*n, per wave.
    Hosts absent from the mapping keep per-host budgeting."""
    cfg = config or CrawlConfig()

    if isinstance(seeds, DataFrame):
        seed_urls = [r[0] for r in seeds.select("url").collect()]
    else:
        seed_urls = list(seeds)
    seed_canon = sorted({u for u in (canonicalize(s) for s in seed_urls) if u})
    allowed = cfg.allowed_netlocs or sorted({netloc_of(u) for u in seed_canon})
    # Small allow-lists inline as an `isin` literal (codegen-friendly); an
    # open-web crawl with 10^5+ allowed hosts would bloat every wave's plan
    # with a giant literal, so large lists become a broadcast semi-join.
    allowed_df = None
    if len(allowed) > _ISIN_MAX_NETLOCS:
        allowed_df = F.broadcast(
            spark.createDataFrame([(n,) for n in allowed], "netloc string")
        )

    # Fetch source: version dedup (as-of max warc_ts) happens per wave on the
    # *matched* rows only — joining first and deduping after means the big
    # html column is never shuffled corpus-wide or columnar-cached. The
    # join's shape follows from the pages scan's partitioning (step 3 of the
    # module docstring); planning it launches no job.
    pages_slim = pages.select("url", "warc_ts", "html")
    pages_bucketed = bucketed_on_url(pages_slim)
    if robots is None:
        robots = robots_from_pages(pages)
    robots = robots.persist()

    # budgets, rules, comp_map: checkpointed on first use, so a resume with
    # no wave left to run launches no job
    wave_tables = functools.cache(
        lambda: _wave_tables(robots, cfg, host_components))

    # Collect the spelling dictionary ONCE for all waves: checkers fold it
    # into the fused findings scan as an array_except literal (checkers.py
    # _checker_structs); over checkers.DICT_WORDS_CAP rows it raises.
    dict_words = None
    if dictionary is not None and cfg.run_checkers:
        dict_words = collect_dictionary(dictionary)

    frontier_cols = ["url", "netloc", "depth", "priority", "referrer",
                     "redirects", "verb", "post_data"]
    seeds_df = spark.createDataFrame(
        [(u, netloc_of(u), 0, 0.0, "", 0, "GET", "") for u in seed_canon],
        schema="url string, netloc string, depth int, priority double, "
               "referrer string, redirects int, verb string, post_data string",
    )

    fetch_logs: list[DataFrame] = []
    findings: list[DataFrame] = []
    metrics: list[dict] = []

    empty_log = spark.createDataFrame(
        [], "url string, netloc string, wave int, depth int, priority double, "
            "referrer string, verb string, post_data string, "
            "status int, content_len long, n_links int",
    )
    empty_findings = spark.createDataFrame([], FINDINGS_SCHEMA)

    catalog = (
        WaveCatalog(cfg.checkpoint_dir, spark) if cfg.checkpoint_dir else None
    )
    resumed_from = catalog.last_committed_wave() if catalog else None
    if resumed_from is not None:
        catalog.heal_manifest()  # this crawl is the catalog's one writer

    pending_findings: list[DataFrame] = []  # pre-wave-0 (seed gating) findings

    if resumed_from is not None:
        # Resume-exactly: the last committed wave's parquet IS the state.
        # Reads are lazy and carry the schema recorded at commit (no
        # checkpoint job, no schema-inference job), and the frontier size
        # comes from the manifest, not a count job.
        frontier = catalog.read_table(spark, "frontier", resumed_from)
        seen = catalog.read_state(spark, "seen", resumed_from)
        _require_contract_v3(cfg.checkpoint_dir, frontier, seen)
        n_frontier = catalog.manifest["waves"][str(resumed_from)]["metrics"][
            "n_frontier_next"]
        wave = resumed_from + 1
    else:
        # Gate the seeds (wave 0 of the contract).
        gated_seeds = _robots_gate(seeds_df, wave_tables()[1], frontier_cols)
        blocked_seeds = gated_seeds.filter(~F.col("robots_allowed"))
        pending_findings.append(
            blocked_seeds.select(
                F.lit("robots").alias("module"), "url", F.lit(0).alias("wave"),
                F.lit("robots_blocked").alias("detail"), "referrer",
            )
        )
        frontier, frontier_rows = _observe_rows(
            gated_seeds.filter("robots_allowed").select(*frontier_cols)
        )
        frontier = frontier.localCheckpoint(eager=True)
        n_frontier = frontier_rows.get["rows"]

        seen = _with_identity(
            seeds_df.select("url", "verb", "post_data"), cfg.n_shards
        ).localCheckpoint(eager=True)
        wave = 0

    # `seen` is maintained as a UNION of materialized leaves: one base
    # snapshot plus one delta per wave since the last compaction. Each wave
    # materializes only its delta — materializing the union would rewrite
    # the full cumulative seen set every wave, the same O(|seen|)-per-wave
    # cost the catalog's delta commits eliminate on disk. Compaction every
    # seen_compact_every waves collapses the union so plan fan-in and
    # cached-leaf count stay bounded.
    seen_parts: list[DataFrame] = [seen]

    end_wave = wave
    _sess_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        while n_frontier > 0 and wave < cfg.max_waves:
            t_wave = time.time()
            # Scope this wave's shuffles to the frontier volume: a wave's
            # exchanges move slim ~150 B frontier/candidate rows (the html
            # shuffle is separately sized by n_parse below), and planning
            # them at the session's corpus-scale width degrades the ~30
            # stages per wave into near-empty tasks whose scheduling
            # barriers dominate (functions/tuning.py; measured ~54 -> ~47 s
            # on the 120k-page bench crawl). Floor 8, capped at the session
            # value so a 10^7-row frontier keeps full-width partitioning.
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(min(_sess_parts,
                        max(-(-n_frontier // _WAVE_ROWS_PER_PARTITION),
                            min(8, _sess_parts)))),
            )
            prev_frontier = frontier
            budgets, rules, comp_map = wave_tables()
            wave_logs: list[DataFrame] = []
            wave_findings: list[DataFrame] = list(pending_findings)
            pending_findings = []
            # Persist the election ONCE, as one frame with a win flag: elected
            # and remainder are filters of it. They feed several downstream
            # jobs (broadcast of elected urls, the fetch join, the 404 split,
            # next frontier) which would otherwise each recompute the window
            # chain — the profiler showed half the wave's CPU inside
            # broadcast-exchange recomputations before elected was persisted,
            # and persisting the two outputs separately still ran the whole
            # chain twice (once more under the frontier write).
            # NOTE (r7): an "identity election" fast path was tried here —
            # skip _elect when n_frontier <= min(all budgets), since the
            # election is then provably the identity (the equivalence is
            # pinned by tests/test_crawl_golden.py::
            # test_identity_election_fast_path_equals_elect). It was
            # REVERTED: bisected as the cause of executor heap OOMs at the
            # 1.2M-page xheavy scaling point (N-level local-cluster[2,4,8g]
            # died at ~wave 2 with the fast path, completed in 369 s
            # without it — see OPTIMIZATION_r07.md X-H). The ~1 s/wave of
            # election stages it saved on the 120k bench is not worth a
            # memory-behavior change at scale that was never fully
            # root-caused.
            ranked = _elect(frontier, budgets, cfg, comp_map).persist()
            elected, remainder = _split_election(ranked)
            # The wave chain runs as two checkpoint jobs, parsed and gated
            # below (ranked is cached by the first), each under a
            # callSite.short label that names its stages for the scaling
            # telemetry (plans/stagemetrics.py); phase_labels splits them
            # into the elect / fetch_parse / probe_gate phases.
            t0 = time.time()
            if cfg.phase_labels:
                _labelled("wave_elect", elected.count)

            # The two fetch shapes of step 3 (plan-asserted in
            # tests/test_plans.py, incl. the max_by partial buffer that
            # smuggles html under a fresh attribute name). Bucketed pages:
            # EnsureRequirements shuffles ONLY the slim elected side into the
            # table's buckets and the dedup agg reuses the join partitioning.
            # Other pages: n_parse is decided before the join, so the one
            # html shuffle lands directly in the parse partitions. Either way
            # the elected-side left join shuffles only slim frontier columns.
            # The html-carrying join output is consumed EXACTLY ONCE, by the
            # parse pass (fetch misses flow through as status=404 rows), and
            # never cached: a cache of it made every downstream `html IS
            # NULL` filter re-read the html batches (~15 GB/run of fetch-log
            # input in the round-4 scaling stage tables).
            elected_urls = elected.select("url")
            if pages_bucketed:
                matched = pages_slim.join(elected_urls, "url")
            else:
                n_parse = max(2 * spark.sparkContext.defaultParallelism,
                              -(-n_frontier // _PARSE_ROWS_PER_PARTITION))
                matched = pages_slim.join(
                    F.broadcast(elected_urls), "url"
                ).repartition(n_parse, "url")
            fetched = elected.join(latest_pages(matched), "url", "left")
            parsed = _labelled(
                "wave_fetch_parse" if cfg.phase_labels else "wave_chain",
                fetched.select("url", "netloc", F.lit(wave).alias("wave"), "depth",
                               "priority", "referrer", "redirects", "verb",
                               "post_data", "html")
                .mapInPandas(parse_pages_batch, PARSED_SCHEMA)
                .localCheckpoint,
            )
            ok = parsed.filter(F.col("status") == 200)

            wave_logs.append(
                parsed.select(
                    "url", "netloc", "wave", "depth", "priority", "referrer",
                    "verb", "post_data", "status", "content_len", "n_links",
                )
            )
            # ALL per-page findings — broken_link + redirect cap + checkers —
            # from ONE scan of the parsed cache (every separate filter branch
            # would fetch the full cached batches again; robots findings join
            # the gated frontier below instead)
            page_findings = wave_findings_pass(
                parsed, cfg.max_redirects, dict_words,
                checkers=cfg.run_checkers,
            )
            wave_findings.append(page_findings)

            # Candidate edges: outlinks (depth+1, fresh redirect counter) plus
            # meta-refresh redirect targets (same depth, hop counter +1 along the
            # chain — the reference's Request carries a redirect count with a
            # cap; over-cap chains are findings, not candidates) plus POST form
            # requests (CONTRACT v3: identity is (verb, url, post_data), so a
            # POSTed url is crawled independently of its GET twin).
            # All three kinds are emitted from ONE scan of the parsed cache as
            # a concatenated per-row struct array with a single explode — the
            # r6 shape ran three separate filter branches over the cache and
            # unioned them, fetching the full cached batches three times per
            # wave (the dominant input volume of the wave_probe_gate phase:
            # 1.75 GB/run at the 120k-page bench; guide §2.4 / §5 cache notes).
            _cand_struct_t = ("array<struct<url:string,depth:int,"
                              "redirects:int,verb:string,post_data:string>>")
            _empty_cand = F.array().cast(_cand_struct_t)
            depth_ok = (F.col("depth") + 1) <= cfg.max_depth
            out_arr = F.when(depth_ok, F.transform(
                "outlinks",
                lambda u: F.struct(
                    u.alias("url"), (F.col("depth") + 1).alias("depth"),
                    F.lit(0).alias("redirects"), F.lit("GET").alias("verb"),
                    F.lit("").alias("post_data"),
                ),
            ))
            red_arr = F.when(
                F.col("redirect").isNotNull()
                & (F.col("redirects") + 1 <= cfg.max_redirects),
                F.array(F.struct(
                    F.col("redirect").alias("url"), F.col("depth").alias("depth"),
                    (F.col("redirects") + 1).alias("redirects"),
                    F.lit("GET").alias("verb"), F.lit("").alias("post_data"),
                )),
            )
            form_arr = F.when(depth_ok, F.transform(
                "post_forms",
                lambda f: F.struct(
                    f["url"].alias("url"), (F.col("depth") + 1).alias("depth"),
                    F.lit(0).alias("redirects"), F.lit("POST").alias("verb"),
                    f["data"].alias("post_data"),
                ),
            ))
            cand = (
                ok.select(
                    F.col("url").alias("referrer"),
                    F.explode(F.concat(
                        F.coalesce(out_arr, _empty_cand),
                        F.coalesce(red_arr, _empty_cand),
                        F.coalesce(form_arr, _empty_cand),
                    )).alias("c"),
                )
                .select(
                    F.col("c.url").alias("url"), "referrer",
                    F.col("c.depth").alias("depth"),
                    F.col("c.redirects").alias("redirects"),
                    F.col("c.verb").alias("verb"),
                    F.col("c.post_data").alias("post_data"),
                )
                .withColumn("path", F.coalesce(F.parse_url("url", F.lit("PATH")), F.lit("")))
                .filter(~F.lower("path").rlike(_EXT_PATTERN))
                .withColumn("netloc", F.parse_url("url", F.lit("HOST")))
            )
            cand = (
                cand.join(allowed_df, "netloc", "left_semi")
                if allowed_df is not None
                else cand.filter(F.col("netloc").isin(allowed))
            )
            cand = (
                # dedup by request IDENTITY (verb, url, post_data) — contract v3
                cand.groupBy("url", "netloc", "verb", "post_data")
                .agg(F.min(F.struct("depth", "referrer", "redirects")).alias("m"))
                .select(
                    "url", "netloc", "verb", "post_data",
                    F.col("m.depth").alias("depth"),
                    F.col("m.depth").cast("double").alias("priority"),
                    F.col("m.referrer").alias("referrer"),
                    F.col("m.redirects").alias("redirects"),
                )
            )
            cand = _with_identity(cand, cfg.n_shards)

            new = cand.join(
                seen.select("verb", "url", "post_data"),
                ["verb", "url", "post_data"], "left_anti",
            )

            gated = _labelled(
                "wave_probe_gate" if cfg.phase_labels else "wave_chain",
                _robots_gate(new, rules, frontier_cols + ["url_hash", "shard"])
                .localCheckpoint,
            )
            t_chain = time.time() - t0
            wave_findings.append(
                gated.filter(~F.col("robots_allowed")).select(
                    F.lit("robots").alias("module"), "url", F.lit(wave).alias("wave"),
                    F.lit("robots_blocked").alias("detail"), "referrer",
                )
            )

            # Then the wave's ONE materialization of its outputs: the five
            # independent state/delta tables, concurrently, reading the
            # checkpoints (_materialize_wave). The next frontier's size rides along
            # as an observed metric of its write — no count job.
            new_frontier_rows = gated.filter("robots_allowed").select(*frontier_cols)
            frontier_next, frontier_rows = _observe_rows(
                remainder.select(*frontier_cols).unionByName(new_frontier_rows)
            )
            new_seen = gated.select("url", "verb", "post_data", "url_hash", "shard")
            compact = wave % cfg.seen_compact_every == 0
            # seen materializes as this wave's DELTA; the full union only on
            # compaction waves (see seen_parts above). The frontier stays
            # full-state (it is the small active set). Wave 0 lands on the
            # compaction branch, so a delta chain always has a base.
            state = {"frontier": frontier_next,
                     "seen": seen.unionByName(new_seen) if compact else new_seen}
            deltas = {"fetch_log": _union_all(wave_logs, empty_log),
                      "findings": _union_all(wave_findings, empty_findings)}

            def wave_metrics():
                return {"wave": wave, "n_frontier_next": frontier_rows.get["rows"]}

            t0 = time.time()
            out = _materialize_wave(
                spark, catalog, wave, state, deltas,
                seen_kind="full" if compact else "delta",
                metrics=wave_metrics,
                config={"budget_per_host": cfg.budget_per_host,
                        "max_depth": cfg.max_depth, "seeds": seed_canon,
                        "n_shards": cfg.n_shards},
            )
            t_state = time.time() - t0
            frontier = out["frontier"]
            if compact:
                seen = out["seen"]
                for part in seen_parts:  # superseded by the collapsed union
                    part.unpersist()
                seen_parts = [seen]
            else:
                seen_parts.append(out["seen"])
                seen = seen.unionByName(out["seen"])
            if catalog is None:
                fetch_logs.append(out["fetch_log"])
                findings.append(out["findings"])
            metrics.append(wave_metrics())
            n_frontier = metrics[-1]["n_frontier_next"]

            # Release superseded per-wave state: without this, a long crawl
            # leaks one cached RDD per wave per state table and everything after
            # it pays the GC/block-manager tax. (seen deltas are NOT superseded
            # — they compose the live union until a compaction wave collapses
            # them, handled above.)
            prev_frontier.unpersist()
            ranked.unpersist()
            if cfg.verbose:
                print(f"[crawl] wave={wave} next_frontier={n_frontier} "
                      f"wall={time.time()-t_wave:.2f}s "
                      f"(chain={t_chain:.1f} state={t_state:.1f})", flush=True)
            end_wave = wave + 1
            wave += 1
    finally:
        # the wave scope is session-wide state — always restore it
        spark.conf.set("spark.sql.shuffle.partitions", str(_sess_parts))

    findings.extend(pending_findings)  # loop never ran (e.g. all seeds blocked)

    robots.unpersist()

    if catalog is not None and catalog.last_committed_wave() is not None:
        last = catalog.last_committed_wave()
        fetch_log = catalog.read_deltas_through(spark, "fetch_log", last)
        findings_df = catalog.read_deltas_through(spark, "findings", last)
    else:
        fetch_log = _union_all(fetch_logs, empty_log)
        findings_df = _union_all(findings, empty_findings)
    return CrawlResult(
        fetch_log=fetch_log, findings=findings_df, seen=seen, waves=end_wave,
        metrics=metrics, _cached=[*fetch_logs, *findings, *seen_parts, frontier],
    )


def _wave_tables(
    robots: DataFrame, cfg: CrawlConfig, host_components: DataFrame | None
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """(budgets, rules, comp_map): the per-crawl tables every wave reads.

    They are CHECKPOINTS, not caches, as are a wave's own parsed and gated
    tables: a plan over a cache embeds the cached plan, and Spark renders
    it, both AQE versions of it, into every SQL-execution and
    adaptive-update event, so nested caches grow that text 2x per level.
    With caches here, crawl_polite's queries carried up to 5 MB of plan
    text each, rebuilt on every re-plan: a quarter of the JVM's CPU
    samples. A checkpoint's plan is one leaf."""
    budgets = robots.mapInPandas(
        _budgets_fn(cfg.budget_per_host), _BUDGET_SCHEMA
    ).localCheckpoint(eager=True)
    # kept in ARRAY form (one row per netloc): every wave's gate join is
    # fan-out-free and needs no re-aggregation (_robots_gate)
    rules = _rules_array(
        robots.mapInPandas(_compile_rules_batches, _RULES_SCHEMA)
    ).localCheckpoint(eager=True)

    comp_map = None
    if host_components is not None:
        # static per-crawl mapping netloc -> (election group, group budget):
        # the group budget is the MIN member budget — the politest member
        # governs the whole mirror cluster. Computed once (host-table-sized,
        # tiny next to the frontier); each wave's election joins it.
        per_host = (
            host_components.select(
                "netloc", F.col("component").cast("string").alias("_comp")
            )
            .join(budgets, "netloc", "left")
            .withColumn("budget", F.coalesce("budget", F.lit(cfg.budget_per_host)))
        )
        grp_budget = per_host.groupBy("_comp").agg(
            F.min("budget").alias("_gbudget")
        )
        comp_map = (
            per_host.join(grp_budget, "_comp")
            .select(
                "netloc",
                # '\n' can never appear in a netloc (host[:port] — urlsplit
                # rejects control characters), so the prefix cannot collide
                # with a real netloc group key. NOTE: ':' was the old
                # separator and CAN occur in a netloc (non-default port,
                # functions/urls.py keeps it): a host literally named
                # 'component' with port N would have collided with the
                # component-N pool and silently shared its election.
                F.concat(F.lit("component\n"), "_comp").alias("_grp"),
                "_gbudget",
            )
            .localCheckpoint(eager=True)
        )
    return budgets, rules, comp_map


def _labelled(label: str, action: Callable[[], T]) -> T:
    """Run `action` (a count, an eager checkpoint) with its jobs' stages
    named `label` (callSite.short)."""
    sc = SparkContext.getOrCreate()
    sc.setLocalProperty("callSite.short", label)
    try:
        return action()
    finally:
        sc.setLocalProperty("callSite.short", None)


def _observe_rows(df: DataFrame) -> tuple[DataFrame, Observation]:
    """`df` with a row counter riding on whatever job materializes it:
    obs.get["rows"] is the row count once that job has run. No count job."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def _materialize_wave(
    spark: SparkSession, catalog: WaveCatalog | None, wave: int,
    state: dict[str, DataFrame], deltas: dict[str, DataFrame],
    seen_kind: str, metrics: Callable[[], dict], config: dict,
) -> dict[str, DataFrame]:
    """The wave's one materialization of its state and delta tables, as
    concurrent jobs, each under its catalog.ckpt_label (ckpt_<table>; seen:
    ckpt_seen_full / ckpt_seen_delta). Returns {name: the materialized
    frame}, seen as written (this wave's delta, or the full set).

    Resumable mode: the catalog commit IS the materialization — each table
    is written once, as parquet, and the returned frames read the
    committed files back (deltas are not returned: the result reads them
    from the catalog). In-memory mode: localCheckpoint every table."""
    kinds = {"seen": seen_kind}
    if catalog is None:
        return run_concurrently(spark, {
            name: (ckpt_label(name, kinds.get(name)),
                   functools.partial(df.localCheckpoint, eager=True))
            for name, df in {**state, **deltas}.items()
        })
    catalog.commit_wave(wave, state, deltas, metrics=metrics, config=config,
                        state_kinds=kinds)
    return {name: catalog.read_table(spark, name, wave) for name in state}


def _union_all(dfs: list[DataFrame], empty: DataFrame) -> DataFrame:
    """Union the deltas; `empty` only anchors the schema when dfs is empty.
    (Seeding the fold with it added its defaultParallelism-many EMPTY
    partitions to every per-wave delta, and each wave's log/findings
    checkpoint then scheduled that many no-op tasks.)"""
    if not dfs:
        return empty
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def _elect(
    frontier: DataFrame, budgets: DataFrame, cfg: CrawlConfig,
    comp_map: DataFrame | None = None,
) -> DataFrame:
    """Per-group top-budget election (W1/W2/J5), skew-proof. Returns every
    frontier row plus a boolean `_win`: the row takes one of its group's
    fetch slots this wave. Persist the result and split it with
    _split_election: elected and remainder are then two filters of one
    cached frame and the window chain runs once per wave (two separately
    persisted outputs each ran the whole chain). The group
    is the netloc by default; with `comp_map` (netloc -> mirror-cluster
    group + pooled budget, built in crawl() from connected_components
    output), member hosts share one election pool — per-component crawl
    budgeting.

    Fast path first: groups whose pending count fits their budget win
    wholesale — no sort, no window. Only over-budget groups enter the
    ranking path, which is two-phase salted: phase 1 ranks within
    (group, salt) so one skew group cannot pin a single reducer; phase 2
    ranks the <= B*salt_buckets survivors per group. Exact: any row in a
    group's global top-B is in the top-B of its salt bucket, so phase 1
    never cuts a winner. Without the fast path, a group with pending >>
    budget=∞ (throughput mode) or simply 50% of the frontier would
    serialize the whole wave through one window task.
    """
    fr = frontier.join(budgets, "netloc", "left").withColumn(
        "budget", F.coalesce("budget", F.lit(cfg.budget_per_host))
    )
    if comp_map is not None:
        fr = (
            fr.join(comp_map, "netloc", "left")
            .withColumn("_grp", F.coalesce("_grp", "netloc"))
            .withColumn("budget", F.coalesce("_gbudget", "budget"))
            .drop("_gbudget")
        )
    else:
        fr = fr.withColumn("_grp", F.col("netloc"))
    host_counts = fr.groupBy("_grp").agg(F.count("*").alias("n_pending"))
    counted = fr.join(host_counts, "_grp")
    under = counted.filter(F.col("n_pending") <= F.col("budget"))
    over = counted.filter(F.col("n_pending") > F.col("budget"))

    over = over.withColumn(
        "salt", F.pmod(F.xxhash64("url"), F.lit(cfg.salt_buckets)).cast("int")
    )
    # total crawl order (contract v3): (priority, url, verb, post_data)
    order = ("priority", "url", "verb", "post_data")
    over = over.withColumn(
        "rk1", F.row_number().over(Window.partitionBy("_grp", "salt").orderBy(*order))
    )
    # Phase 2 in the same chain: phase-1 survivors of a group share the
    # partition (group, -1) and rank there; the rows phase 1 cut keep their
    # (group, salt) partition and lose, so no partition holds more than
    # one salt bucket's rows or B*salt_buckets survivors.
    over = over.withColumn(
        "_p2", F.when(F.col("rk1") <= F.col("budget"), F.lit(-1))
        .otherwise(F.col("salt"))
    ).withColumn(
        "rk2", F.row_number().over(Window.partitionBy("_grp", "_p2").orderBy(*order))
    )
    cols = frontier.columns
    return under.select(*cols, F.lit(True).alias("_win")).unionByName(
        over.select(*cols, ((F.col("_p2") == -1)
                            & (F.col("rk2") <= F.col("budget"))).alias("_win"))
    )


def _split_election(ranked: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(elected, remainder) of an _elect result."""
    return (ranked.filter(F.col("_win")).drop("_win"),
            ranked.filter(~F.col("_win")).drop("_win"))


def _match_path_fn(cols: list[str]):
    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[cols].copy()
            out["_path"] = [robots_mod.match_path(u) for u in pdf["url"]]
            yield out

    return fn


def _rules_array(rules: DataFrame) -> DataFrame:
    """(netloc, _rules: array<struct<seq,prefix,allow>> sorted by seq) from
    the long-form compiled rule rows. seq is unique per netloc, so
    array_sort orders exactly by file position."""
    return rules.groupBy("netloc").agg(
        F.array_sort(
            F.collect_list(F.struct("seq", "prefix", "allow"))
        ).alias("_rules")
    )


def _robots_gate(df: DataFrame, rules: DataFrame, passthrough: list[str]) -> DataFrame:
    """R1 gate: join pre-compiled per-netloc rule ARRAYS on netloc; the
    first-match election (first matching rule in file order decides, no
    rule -> allow) runs row-locally over the array — no post-join
    re-aggregation. The r6 shape joined LONG-form rule rows and collapsed
    the multiplied rows with a groupBy over every passthrough column: one
    full exchange of the gated candidate set per wave whose only job was
    undoing the join fan-out (guide §2.4: remove shuffles outright). The
    match string is robotparser's own (robots.match_path, computed in ONE
    vectorized pass — each url is gated exactly once in its lifetime, so
    this is a one-shot Arrow round-trip per url, not per wave). Catalyst
    broadcasts the host-table-sized rules side when small; at web scale it
    shuffle-joins on netloc (still fan-out-free: one row per netloc).

    Precondition: `df` is unique per passthrough tuple. The gate keeps one
    output row per input row (the rules side has one row per netloc) and
    does not deduplicate — a duplicated input row would become a duplicated
    frontier/seen row. Both callers satisfy it: the candidates are grouped
    by request identity and the seeds are a sorted set.

    `rules` is the (netloc, _rules) form _rules_array builds (the crawl
    loop checkpoints it once per crawl)."""
    first_hit = F.get(
        F.filter(
            F.col("_rules"),
            lambda r: (r["prefix"] == "") | (r["prefix"] == "*")
            | F.col("_path").startswith(r["prefix"]),
        ),
        0,
    )
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(*passthrough).schema
    ) + ", _path string"
    with_path = df.mapInPandas(_match_path_fn(list(passthrough)), schema)
    return (
        with_path.join(rules, "netloc", "left")
        .select(
            *passthrough,
            F.coalesce(first_hit["allow"], F.lit(True)).alias("robots_allowed"),
        )
    )


def resolve_redirect_chains(edges: DataFrame, max_hops: int = 4) -> DataFrame:
    """Resolve each redirect source's final destination over an edge table
    (src, dst), hop-capped. Returns (src, final, hops, capped).

    Each iteration is ONE equi-join advancing every unresolved cursor a hop
    — k joins total for a k-hop cap, never an all-pairs or transitive-
    closure expansion, so it scales to web-sized redirect tables. Cycles
    terminate via the cap and surface as capped=true (as does any chain
    longer than max_hops). Assumes functional edges (one outgoing redirect
    per src), which is what meta-refresh/3xx semantics give."""
    cur = edges.select("src", F.col("dst").alias("cur"), F.lit(1).alias("hops"))
    step = edges.select(F.col("src").alias("cur"), F.col("dst").alias("_d"))
    for _ in range(max_hops - 1):
        cur = (
            cur.join(step, "cur", "left")
            .select(
                "src",
                F.coalesce("_d", F.col("cur")).alias("cur"),
                F.when(F.col("_d").isNotNull(), F.col("hops") + 1)
                .otherwise(F.col("hops")).alias("hops"),
            )
        )
    more = edges.select(F.col("src").alias("cur")).distinct().withColumn(
        "_more", F.lit(True)
    )
    return (
        cur.join(more, "cur", "left")
        .select(
            "src", F.col("cur").alias("final"), "hops",
            F.coalesce("_more", F.lit(False)).alias("capped"),
        )
    )
