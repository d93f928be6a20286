"""The crawl engine: BFS URL-frontier as iterative DataFrame programs.

Implements CRAWL CONTRACT v3 (golden.py) Spark-first (SURVEY.md §3.2):
request identity is the (verb, url, post_data) triple — method=post forms
become POST requests crawled independently of their GET twins.

crawl() has three parts:

- Setup and resume: the seeds, the allow-list and the per-crawl tables
  (_crawl_tables: budgets, rules, host components, the spelling dictionary
  and the pages scan), then either the catalog's last committed wave or
  the robots-gated seeds (_gate_seeds, wave 0 of the contract).
- _wave: one wave's DataFrame program, steps 2-9 below. It writes nothing
  and sets no conf; its only jobs are its two labelled checkpoints.
- The loop: it scopes each wave's shuffle width, materializes what _wave
  returns (step 10, the catalog commit in resumable mode), and releases
  superseded state.

    seeds -> frontier(wave 0)
    per wave:
      1. budgets   = robots crawl-delay -> per-netloc budget, per crawl
                     (each wave joins it; broadcast when small)
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
_FRONTIER_COLS = ["url", "netloc", "depth", "priority", "referrer", "redirects",
                  "verb", "post_data"]
_FRONTIER_SCHEMA = ("url string, netloc string, depth int, priority double, "
                    "referrer string, redirects int, verb string, post_data string")
_LOG_COLS = ["url", "netloc", "wave", "depth", "priority", "referrer", "verb",
             "post_data", "status", "content_len", "n_links"]
_LOG_SCHEMA = ("url string, netloc string, wave int, depth int, priority double, "
               "referrer string, verb string, post_data string, "
               "status int, content_len long, n_links int")
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
    """R1: robots.txt bodies live in the corpus itself. One row per netloc,
    hash-partitioned on netloc at the core count rather than the session's
    shuffle width: the budgets and rules checkpoints keep this partitioning,
    and every wave's election and gate joins shuffle the frontier to match
    it, so a session at width 200 would otherwise pay 200-task stages in
    every wave."""
    return (
        pages.filter(F.col("url").endswith("/robots.txt"))
        .groupBy(F.parse_url("url", F.lit("HOST")).alias("netloc"))
        .agg(F.max_by("text", F.struct("warc_ts", F.md5("text"))).alias("rules"))
        .repartition(pages.sparkSession.sparkContext.defaultParallelism, "netloc")
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
    # built on first use, so a resume with no wave left to run launches no job
    tables = functools.cache(lambda: _crawl_tables(
        spark, pages, allowed, cfg, dictionary, host_components))

    catalog = (
        WaveCatalog(cfg.checkpoint_dir, spark) if cfg.checkpoint_dir else None
    )
    resumed_from = catalog.last_committed_wave() if catalog else None
    seed_findings = None  # robots findings of the seeds, part of wave 0's delta
    if resumed_from is not None:
        catalog.heal_manifest()  # this crawl is the catalog's one writer
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
        frontier, n_frontier, seen, seed_findings = _gate_seeds(
            spark, seed_canon, tables().rules, cfg)
        wave = 0

    # `seen` is maintained as a UNION of materialized leaves: one base
    # snapshot plus one delta per wave since the last compaction. Each wave
    # materializes only its delta — materializing the union would rewrite
    # the full cumulative seen set every wave, the same O(|seen|)-per-wave
    # cost the catalog's delta commits eliminate on disk. Compaction every
    # seen_compact_every waves collapses the union so plan fan-in and
    # cached-leaf count stay bounded.
    seen_parts: list[DataFrame] = [seen]
    fetch_logs: list[DataFrame] = []
    findings: list[DataFrame] = []
    metrics: list[dict] = []

    _sess_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        while n_frontier > 0 and wave < cfg.max_waves:
            t_wave = time.time()
            # Scope this wave's shuffles to the frontier volume: a wave's
            # exchanges move slim ~150 B frontier/candidate rows (the html
            # shuffle is separately sized by n_parse in _wave), and planning
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
            wave_tables = tables()
            t0 = time.time()
            state, deltas, frontier_rows, ranked = _wave(
                wave_tables, frontier, seen, n_frontier, cfg, wave, seed_findings)
            t_chain = time.time() - t0
            seed_findings = None

            def wave_metrics():
                return {"wave": wave, "n_frontier_next": frontier_rows.get["rows"]}

            compact = _compacts(wave, cfg)
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
            # Release superseded per-wave state: without this, a long crawl
            # leaks one cached RDD per wave per state table and everything
            # after it pays the GC/block-manager tax. Seen deltas are not
            # superseded until a compaction wave collapses them.
            frontier.unpersist()
            ranked.unpersist()
            frontier = out["frontier"]
            if compact:
                seen = out["seen"]
                for part in seen_parts:
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
            if cfg.verbose:
                print(f"[crawl] wave={wave} next_frontier={n_frontier} "
                      f"wall={time.time()-t_wave:.2f}s "
                      f"(chain={t_chain:.1f} state={t_state:.1f})", flush=True)
            wave += 1
    finally:
        # the wave scope is session-wide state — always restore it
        spark.conf.set("spark.sql.shuffle.partitions", str(_sess_parts))

    if seed_findings is not None:  # no wave ran (e.g. every seed blocked)
        findings.append(seed_findings)

    if catalog is not None and catalog.last_committed_wave() is not None:
        last = catalog.last_committed_wave()
        fetch_log = catalog.read_deltas_through(spark, "fetch_log", last)
        findings_df = catalog.read_deltas_through(spark, "findings", last)
    else:
        fetch_log = _union_all(fetch_logs, spark.createDataFrame([], _LOG_SCHEMA))
        findings_df = _union_all(findings, spark.createDataFrame([], FINDINGS_SCHEMA))
    return CrawlResult(
        fetch_log=fetch_log, findings=findings_df, seen=seen, waves=wave,
        metrics=metrics, _cached=[*fetch_logs, *findings, *seen_parts, frontier],
    )


@dataclass(frozen=True)
class _CrawlTables:
    """What every wave reads and no wave changes."""
    pages: DataFrame               # (url, warc_ts, html) of the corpus
    pages_bucketed: bool           # the fetch shape (step 3)
    budgets: DataFrame             # (netloc, budget)
    rules: DataFrame               # (netloc, _rules), _robots_gate's form
    comp_map: DataFrame | None     # (netloc, _grp, _gbudget), see _elect
    allowed: list[str]             # netlocs candidates may have
    allowed_df: DataFrame | None   # the same, as a semi-join side when large
    dict_words: list[str] | None   # spelling dictionary for the checkers


def _crawl_tables(
    spark: SparkSession, pages: DataFrame, allowed: list[str], cfg: CrawlConfig,
    dictionary: DataFrame | None, host_components: DataFrame | None,
) -> _CrawlTables:
    """Build the per-crawl tables. budgets, rules and comp_map are
    CHECKPOINTS, not caches, as are a wave's own parsed and gated tables: a
    plan over a cache embeds the cached plan, and Spark renders it, both AQE
    versions of it, into every SQL-execution and adaptive-update event, so
    nested caches grow that text 2x per level. With caches here,
    crawl_polite's queries carried up to 5 MB of plan text each, rebuilt on
    every re-plan: a quarter of the JVM's CPU samples. A checkpoint's plan
    is one leaf."""
    robots = robots_from_pages(pages).persist()
    try:
        budgets = robots.mapInPandas(
            _budgets_fn(cfg.budget_per_host), _BUDGET_SCHEMA
        ).localCheckpoint(eager=True)
        # kept in ARRAY form (one row per netloc): every wave's gate join is
        # fan-out-free and needs no re-aggregation (_robots_gate)
        rules = _rules_array(
            robots.mapInPandas(_compile_rules_batches, _RULES_SCHEMA)
        ).localCheckpoint(eager=True)
    finally:
        robots.unpersist()

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
                # with a real netloc group key; ':' can (a non-default port).
                F.concat(F.lit("component\n"), "_comp").alias("_grp"),
                "_gbudget",
            )
            .localCheckpoint(eager=True)
        )

    # Small allow-lists inline as an `isin` literal (codegen-friendly); an
    # open-web crawl with 10^5+ allowed hosts would bloat every wave's plan
    # with a giant literal, so large lists become a broadcast semi-join.
    allowed_df = None
    if len(allowed) > _ISIN_MAX_NETLOCS:
        allowed_df = F.broadcast(
            spark.createDataFrame([(n,) for n in allowed], "netloc string")
        )
    # Version dedup (as-of max warc_ts) happens per wave on the *matched*
    # rows only, so the big html column is never shuffled corpus-wide or
    # cached. The join's shape follows from the pages scan's partitioning
    # (step 3 of the module docstring); planning it launches no job.
    pages_slim = pages.select("url", "warc_ts", "html")
    # The spelling dictionary is collected ONCE for all waves: the checkers
    # fold it into the fused findings scan as an array_except literal
    # (checkers._checker_structs); over checkers.DICT_WORDS_CAP rows it raises.
    dict_words = None
    if dictionary is not None and cfg.run_checkers:
        dict_words = collect_dictionary(dictionary)
    return _CrawlTables(pages_slim, bucketed_on_url(pages_slim), budgets, rules,
                        comp_map, allowed, allowed_df, dict_words)


def _gate_seeds(
    spark: SparkSession, seed_canon: list[str], rules: DataFrame, cfg: CrawlConfig,
) -> tuple[DataFrame, int, DataFrame, DataFrame]:
    """Wave 0 of the contract: (frontier, its size, seen, the seeds' robots
    findings). Every seed enters seen; only the robots-allowed ones enter
    the frontier."""
    seeds_df = spark.createDataFrame(
        [(u, netloc_of(u), 0, 0.0, "", 0, "GET", "") for u in seed_canon],
        schema=_FRONTIER_SCHEMA,
    )
    gated, blocked = _gate(seeds_df, rules, _FRONTIER_COLS, 0)
    frontier, frontier_rows = _observe_rows(
        gated.filter("robots_allowed").select(*_FRONTIER_COLS)
    )
    frontier = frontier.localCheckpoint(eager=True)
    seen = _with_identity(
        seeds_df.select("url", "verb", "post_data"), cfg.n_shards
    ).localCheckpoint(eager=True)
    return frontier, frontier_rows.get["rows"], seen, blocked


def _compacts(wave: int, cfg: CrawlConfig) -> bool:
    """True when `wave` commits seen in full rather than as a delta. Wave 0
    always does, so a delta chain always has a base."""
    return wave % cfg.seen_compact_every == 0


def _wave(
    tables: _CrawlTables, frontier: DataFrame, seen: DataFrame, n_frontier: int,
    cfg: CrawlConfig, wave: int, carried_findings: DataFrame | None = None,
) -> tuple[dict[str, DataFrame], dict[str, DataFrame], Observation, DataFrame]:
    """One BFS wave as one DataFrame program (steps 2-9 of the module
    docstring): (state, deltas, frontier_rows, ranked).

    state is {frontier, seen}: the next frontier, and seen as this wave
    commits it (the full union on a compaction wave, else the wave's new
    requests). deltas is {fetch_log, findings}; the findings include
    `carried_findings`, the seeds' robots findings on a fresh crawl's first
    wave. frontier_rows counts the next frontier's rows once its write has
    run. ranked is the cached election, for the caller to release after
    that write.

    Writes nothing and sets no conf. Its only jobs are the two labelled
    checkpoints, parsed and gated (wave_chain; with cfg.phase_labels, the
    wave_elect count and then wave_fetch_parse and wave_probe_gate)."""
    # Persist the election ONCE, as one frame with a win flag: elected and
    # remainder are filters of it, so the window chain runs once per wave
    # and not again under each job that reads them. There is no
    # identity-election fast path: it caused executor OOMs at scale
    # (OPTIMIZATION_r07.md X-H).
    ranked = _elect(frontier, tables.budgets, cfg, tables.comp_map).persist()
    elected, remainder = _split_election(ranked)
    if cfg.phase_labels:
        _labelled("wave_elect", elected.count)

    # The two fetch shapes of step 3 (plan-asserted in tests/test_plans.py).
    # Bucketed pages: only the slim elected side shuffles into the table's
    # buckets and the dedup agg reuses the join partitioning. Other pages:
    # the one html shuffle lands directly in the n_parse parse partitions.
    # The html-carrying join output is read exactly once, by the parse pass
    # (fetch misses flow through as status=404 rows), and never cached: a
    # cache of it made every later `html IS NULL` filter re-read the html.
    elected_urls = elected.select("url")
    if tables.pages_bucketed:
        matched = tables.pages.join(elected_urls, "url")
    else:
        sc = SparkContext.getOrCreate()
        n_parse = max(2 * sc.defaultParallelism,
                      -(-n_frontier // _PARSE_ROWS_PER_PARTITION))
        matched = tables.pages.join(
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
    # ALL per-page findings — broken_link + redirect cap + checkers — from
    # ONE scan of the parsed checkpoint; robots findings come from the gate
    page_findings = wave_findings_pass(
        parsed, cfg.max_redirects, tables.dict_words, checkers=cfg.run_checkers,
    )

    new = _candidates(parsed.filter(F.col("status") == 200), tables, cfg).join(
        seen.select("verb", "url", "post_data"),
        ["verb", "url", "post_data"], "left_anti",
    )
    gated, blocked = _gate(
        new, tables.rules, _FRONTIER_COLS + ["url_hash", "shard"], wave,
        label="wave_probe_gate" if cfg.phase_labels else "wave_chain",
    )

    frontier_next, frontier_rows = _observe_rows(
        remainder.select(*_FRONTIER_COLS).unionByName(
            gated.filter("robots_allowed").select(*_FRONTIER_COLS))
    )
    new_seen = gated.select("url", "verb", "post_data", "url_hash", "shard")
    state = {"frontier": frontier_next,
             "seen": seen.unionByName(new_seen) if _compacts(wave, cfg) else new_seen}
    findings = [f for f in (carried_findings, page_findings, blocked) if f is not None]
    deltas = {"fetch_log": parsed.select(*_LOG_COLS),
              "findings": functools.reduce(DataFrame.unionByName, findings)}
    return state, deltas, frontier_rows, ranked


def _candidates(ok: DataFrame, tables: _CrawlTables, cfg: CrawlConfig) -> DataFrame:
    """Step 6: the wave's candidate requests from its fetched pages, deduped
    by request identity (verb, url, post_data), with the identity columns.

    Outlinks (depth+1, fresh redirect counter), meta-refresh redirect
    targets (same depth, hop counter +1: over-cap chains are findings, not
    candidates) and POST form requests (CONTRACT v3: a POSTed url is
    crawled independently of its GET twin). All three come from ONE scan of
    the parsed checkpoint, as one concatenated struct array and a single
    explode: a filter branch per kind re-reads the parsed batches per kind."""
    cand_t = "array<struct<url:string,depth:int,redirects:int,verb:string,post_data:string>>"
    empty = F.array().cast(cand_t)
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
                F.coalesce(out_arr, empty),
                F.coalesce(red_arr, empty),
                F.coalesce(form_arr, empty),
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
        cand.join(tables.allowed_df, "netloc", "left_semi")
        if tables.allowed_df is not None
        else cand.filter(F.col("netloc").isin(tables.allowed))
    )
    cand = (
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
    return _with_identity(cand, cfg.n_shards)


def _gate(
    df: DataFrame, rules: DataFrame, passthrough: list[str], wave: int,
    label: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Step 8, for the seeds and for each wave's new requests: (gated, the
    robots_blocked findings). With `label`, gated is first checkpointed in
    a job under that label, so its readers do not re-run the gate."""
    gated = _robots_gate(df, rules, passthrough)
    if label is not None:
        gated = _labelled(label, gated.localCheckpoint)
    blocked = gated.filter(~F.col("robots_allowed")).select(
        F.lit("robots").alias("module"), "url", F.lit(wave).alias("wave"),
        F.lit("robots_blocked").alias("detail"), "referrer",
    )
    return gated, blocked


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
    group + pooled budget, built by _crawl_tables from connected_components
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
    rule -> allow) runs row-locally over the array. One row per netloc keeps
    the join fan-out-free, so no exchange re-aggregates its output. The
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

    `rules` is the (netloc, _rules) form _rules_array builds
    (_crawl_tables checkpoints it once per crawl)."""
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
