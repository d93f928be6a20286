"""Physical-plan tests (SURVEY.md §4): assert the optimizations the engine
relies on actually materialize in Catalyst's plans."""

import tempfile

import pytest

from pyspark.sql import functions as F

from sitecheck_spark.plans.checks import (
    assert_broadcast_join,
    assert_column_never_scanned,
    assert_filter_pushed,
    count_shuffles,
    formatted_plan,
    scan_read_schemas,
)
from sitecheck_spark.sources.corpus import make_pages_pdf

from conftest import SF_DIR, jobs_launched_by

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


@pytest.fixture(scope="module")
def pages_parquet(spark):
    d = tempfile.mkdtemp() + "/pages"
    spark.createDataFrame(make_pages_pdf(60), PAGES_SCHEMA).write.parquet(d)
    return d


@pytest.fixture(scope="module")
def pages_btable(spark):
    """The 60-page corpus as a bucketed table re-registered from its files,
    as a fresh session sees it. 16 buckets: not the broadcast shape's parse
    width (2 x 4 cores), so its repartition(n_parse, url) cannot happen to
    match the table's own partitioning."""
    from sitecheck_spark.sources.catalog import (
        register_pages_bucketed_table,
        write_pages_bucketed_table,
    )

    loc = tempfile.mkdtemp() + "/pages_btable_fetch"
    write_pages_bucketed_table(
        spark.createDataFrame(make_pages_pdf(60), PAGES_SCHEMA), n_buckets=16,
        table="pages_bt_fetch", path=loc,
    )
    return register_pages_bucketed_table(spark, loc, n_buckets=16,
                                         table="pages_bt_fetch_rereg")


def test_html_pruned_from_link_count_scan(spark, pages_parquet):
    """The single biggest I/O lever at 10^10 scale: html:binary must never be
    read except into the parse pass (SURVEY.md §4)."""
    pages = spark.read.parquet(pages_parquet)
    q = pages.groupBy("lang").agg(F.count("*").alias("n"))
    assert_column_never_scanned(q, "html")
    q2 = pages.select("url", "warc_ts").filter(F.col("url").startswith("https://big"))
    assert_column_never_scanned(q2, "html")
    assert_column_never_scanned(q2, "text")


def test_lang_filter_pushed_to_parquet(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    q = pages.filter(F.col("lang") == "en").select("url")
    assert_filter_pushed(q, "lang")


def test_broadcast_join_for_small_dims(spark):
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    q = customer.join(F.broadcast(nation),
                      customer.c_nationkey == nation.n_nationkey).groupBy(
        "n_name").count()
    assert_broadcast_join(q)


def test_fetch_join_scans_only_needed_columns(spark, pages_parquet):
    """The crawl's fetch join must not read `text`/`lang` (it parses html)."""
    pages = spark.read.parquet(pages_parquet)
    elected = spark.createDataFrame([("https://big.example.com/p/0.html",)], "url string")
    matched = pages.select("url", "warc_ts", "html").join(F.broadcast(elected), "url")
    latest = matched.groupBy("url").agg(F.max_by("html", "warc_ts").alias("html"))
    for schema in scan_read_schemas(latest):
        assert "text:" not in schema and "lang:" not in schema
    assert_broadcast_join(latest)


def test_html_crosses_exactly_one_shuffle_per_wave(spark, pages_parquet):
    """The 100-TB contract of the wave chain (crawl.py fetch→dedup→parse):
    html:binary — the dominant bytes of the job — must cross exactly ONE
    shuffle exchange per wave. The repartition(n_parse, url) before the
    version-dedup agg is that one exchange; the agg reuses its partitioning,
    the elected-side left join shuffles only slim frontier columns, and the
    parse pass inherits the partitions. Mirrors the engine chain at
    crawl.py (matched → latest_rows → fetched → parsed). Also guards the
    counter against the max_by partial-buffer smuggling hazard."""
    from sitecheck_spark.plans.checks import shuffle_exchanges_carrying

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # Represent the at-scale plan: latest_rows is far above any broadcast
    # threshold at 100 TB, so disable size-based broadcast; the elected
    # side keeps its explicit broadcast() hint exactly as the engine does.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pages = spark.read.parquet(pages_parquet).select("url", "warc_ts", "html")
        elected = spark.createDataFrame(
            [("https://big.example.com/p/0.html", "big.example.com", 0, 0.0,
              None, 0)],
            "url string, netloc string, depth int, priority double, "
            "referrer string, redirects int",
        )
        matched = pages.join(F.broadcast(elected.select("url")), "url")
        latest_rows = matched.repartition(8, "url").groupBy("url").agg(
            F.max_by("html", F.struct("warc_ts", F.md5("html"))).alias("html")
        )
        fetched = elected.join(latest_rows, "url", "left")
        parsed_input = fetched.filter(F.col("html").isNotNull()).select(
            "url", "netloc", "depth", "priority", "referrer", "redirects", "html"
        )
        carrying = shuffle_exchanges_carrying(parsed_input, "html")
        assert len(carrying) == 1, formatted_plan(parsed_input)
        # and the one exchange is the url-hash repartition, so the dedup agg
        # and the parse stage are co-partitioned with it
        assert "hashpartitioning(url" in carrying[0], carrying[0]
        # negative control: without the repartition the dedup agg's own
        # exchange shuffles the max_by partial buffer (html bytes under a
        # fresh attribute) — the counter must see through that
        bad = matched.groupBy("url").agg(
            F.max_by("html", F.struct("warc_ts", F.md5("html"))).alias("html")
        )
        assert len(shuffle_exchanges_carrying(bad, "html")) == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_exact_dedup_is_single_shuffle(spark):
    from sitecheck_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = exact_dedup(docs)
    # partial aggregation upstream, exactly one hash exchange
    assert count_shuffles(q) == 1
    plan = formatted_plan(q)
    assert "partial_min" in plan and "partial_count" in plan


def test_html_zero_shuffle_bucketed_table_fetch(spark):
    """The bucketed-TABLE fetch (catalog.write_pages_bucketed_table, the
    storage-partitioned-join shape an Iceberg bucket(N,url) table gives):
    the pages scan reports its bucketing, so the fetch join shuffles only
    the slim elected side and the version-dedup agg reuses the join
    partitioning — html:binary crosses ZERO exchanges. This removes the
    per-wave html shuffle that caps 4N scaling on shared-disk hosts."""
    import tempfile as _tf

    from sitecheck_spark.plans.checks import shuffle_exchanges_carrying
    from sitecheck_spark.sources.catalog import (
        register_pages_bucketed_table,
        write_pages_bucketed_table,
    )

    src = spark.createDataFrame(make_pages_pdf(60), PAGES_SCHEMA)
    loc = _tf.mkdtemp() + "/pages_btable_plan"
    write_pages_bucketed_table(src, n_buckets=8, table="pages_bt_plan", path=loc)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pages = spark.table("pages_bt_plan").select("url", "warc_ts", "html")
        elected = spark.createDataFrame(
            [("https://big.example.com/p/0.html", "big.example.com", 0, 0.0,
              None, 0)],
            "url string, netloc string, depth int, priority double, "
            "referrer string, redirects int",
        )
        matched = pages.join(elected.select("url"), "url")
        latest = matched.groupBy("url").agg(
            F.max_by("html", F.struct("warc_ts", F.md5("html"))).alias("html")
        )
        fetched = elected.join(latest, "url", "left")
        parsed_input = fetched.filter(F.col("html").isNotNull()).select(
            "url", "netloc", "depth", "priority", "referrer", "redirects", "html"
        )
        plan = formatted_plan(parsed_input)
        assert "Bucketed: true" in plan, plan
        carrying = shuffle_exchanges_carrying(parsed_input, "html")
        assert len(carrying) == 0, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_table_crawl_equals_plain_crawl(spark):
    """End-to-end: the zero-html-shuffle bucketed-table fetch must produce
    the identical crawl as the plain path, including re-registration of the
    table files in a catalog-naive way (fresh table name over the same
    directory, as a new session would)."""
    import tempfile as _tf

    from sitecheck_spark.crawl import CrawlConfig, crawl
    from sitecheck_spark.sources.catalog import (
        register_pages_bucketed_table,
        write_pages_bucketed_table,
    )
    from sitecheck_spark.sources.corpus import make_seeds_pdf

    src = spark.createDataFrame(make_pages_pdf(60), PAGES_SCHEMA)
    loc = _tf.mkdtemp() + "/pages_btable_e2e"
    write_pages_bucketed_table(src, n_buckets=8, table="pages_bt_e2e", path=loc)
    # a fresh session only has the files: re-declare and use THAT table
    reread = register_pages_bucketed_table(
        spark, loc, n_buckets=8, table="pages_bt_e2e_rereg"
    )

    seeds = make_seeds_pdf().url.tolist()
    base = dict(budget_per_host=3, max_waves=4, n_shards=4, salt_buckets=2,
                run_checkers=False)
    plain = crawl(spark, src, seeds, CrawlConfig(**base))
    btable = crawl(spark, reread, seeds, CrawlConfig(**base))
    key = lambda res: sorted(
        (r["wave"], r["url"], r["status"]) for r in res.fetch_log.collect()
    )
    assert key(plain) == key(btable)
    assert {r["url"] for r in plain.seen.collect()} == {
        r["url"] for r in btable.seen.collect()
    }
    plain.release()
    btable.release()


def test_bucketed_on_url_reads_the_scan_partitioning(spark, pages_parquet,
                                                     pages_btable):
    """bucketed_on_url is true exactly for a scan hash-partitioned on url:
    a bucketed table (filtered or not) — not plain parquet, a local frame,
    or the same table with bucketing disabled. It launches no job."""
    from sitecheck_spark.sources.catalog import bucketed_on_url

    plain = spark.read.parquet(pages_parquet)  # schema inference runs a job
    local = spark.createDataFrame(make_pages_pdf(5), PAGES_SCHEMA)

    def probes():
        assert bucketed_on_url(pages_btable)
        assert bucketed_on_url(pages_btable.filter(F.col("lang") == "en")
                               .select("url", "html"))
        assert not bucketed_on_url(plain)
        assert not bucketed_on_url(local)
        spark.conf.set("spark.sql.sources.bucketing.enabled", "false")
        try:
            assert not bucketed_on_url(spark.table("pages_bt_fetch_rereg"))
        finally:
            spark.conf.unset("spark.sql.sources.bucketing.enabled")

    _, jobs = jobs_launched_by(spark, probes)
    assert jobs == []


@pytest.mark.parametrize("layout, html_shuffles", [
    ("parquet", 1),
    ("bucketed_table", 0),
], ids=["parquet", "bucketed_table"])
def test_engine_fetch_follows_the_pages_layout(spark, monkeypatch,
                                               pages_parquet, pages_btable,
                                               layout, html_shuffles):
    """The crawl engine itself (not a hand-built copy of its chain) picks the
    fetch join from the pages scan, with no fetch option set: plain parquet
    broadcasts the elected urls and shuffles html once; a bucketed table
    joins on its buckets and html crosses no exchange. Checked on each
    wave's parsed frame as the engine checkpoints it."""
    from sitecheck_spark import crawl as crawl_mod
    from sitecheck_spark.crawl import CrawlConfig, crawl
    from sitecheck_spark.plans.checks import shuffle_exchanges_carrying
    from sitecheck_spark.sources.corpus import make_seeds_pdf

    counts = []
    labelled = crawl_mod._labelled

    def spy(label, action):
        frame = getattr(action, "__self__", None)
        if label == "wave_chain" and "robots_allowed" not in frame.columns:
            counts.append(len(shuffle_exchanges_carrying(frame, "html")))
        return labelled(label, action)

    pages = (spark.read.parquet(pages_parquet) if layout == "parquet"
             else pages_btable)
    monkeypatch.setattr(crawl_mod, "_labelled", spy)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        res = crawl(spark, pages, make_seeds_pdf().url.tolist(),
                    CrawlConfig(budget_per_host=3, max_waves=2, n_shards=4,
                                salt_buckets=2, run_checkers=False))
        res.release()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert counts == [html_shuffles] * 2


def test_register_bucketed_table_spec_mismatch_raises(spark):
    """CREATE TABLE IF NOT EXISTS silently reusing a pre-existing table
    with a different location/bucket spec would make the
    storage-partitioned fetch join drop matches (phantom 404s) — the
    register call must raise instead."""
    import tempfile as _tf

    from sitecheck_spark.sources.catalog import (
        register_pages_bucketed_table,
        write_pages_bucketed_table,
    )

    src = spark.createDataFrame(make_pages_pdf(30), PAGES_SCHEMA)
    loc = _tf.mkdtemp() + "/pages_bt_spec"
    write_pages_bucketed_table(src, n_buckets=8, table="pages_bt_spec", path=loc)
    # same spec: fine (the restart-and-re-register path)
    register_pages_bucketed_table(spark, loc, n_buckets=8, table="pages_bt_spec")
    with pytest.raises(ValueError, match="different spec"):
        register_pages_bucketed_table(spark, loc, n_buckets=4,
                                      table="pages_bt_spec")
    with pytest.raises(ValueError, match="different spec"):
        register_pages_bucketed_table(spark, _tf.mkdtemp() + "/elsewhere",
                                      n_buckets=8, table="pages_bt_spec")


def test_register_bucketed_table_file_layout_guard(spark):
    """Declaring a FRESH table name over files bucketed under a different
    modulus must fail the sample guard: the bucket id in each file name has
    to equal pmod(hash(url), declared_n)."""
    import tempfile as _tf

    from sitecheck_spark.sources.catalog import (
        register_pages_bucketed_table,
        write_pages_bucketed_table,
    )

    src = spark.createDataFrame(make_pages_pdf(30), PAGES_SCHEMA)
    loc = _tf.mkdtemp() + "/pages_bt_files"
    write_pages_bucketed_table(src, n_buckets=8, table="pages_bt_files", path=loc)
    with pytest.raises(ValueError, match="bucket ids"):
        register_pages_bucketed_table(spark, loc, n_buckets=16,
                                      table="pages_bt_files_wrongn")


def test_bucket_layout_guard_rejects_nested_layout(spark):
    """A table root whose data files sit in SUBDIRECTORIES (partitioned or
    hand-laid layout) must fail the layout guard loudly instead of
    vacuously passing with zero files checked (the old non-recursive sweep
    returned as 'empty table')."""
    import os
    import shutil
    import tempfile as _tf

    from sitecheck_spark.sources.catalog import (
        register_pages_bucketed_table,
        write_pages_bucketed_table,
    )

    src = spark.createDataFrame(make_pages_pdf(30), PAGES_SCHEMA)
    flat = _tf.mkdtemp() + "/pages_bt_flat"
    write_pages_bucketed_table(src, n_buckets=8, table="pages_bt_flat",
                               path=flat)
    nested = _tf.mkdtemp() + "/pages_bt_nested"
    os.makedirs(os.path.join(nested, "sub"))
    for name in os.listdir(flat):
        if not name.startswith(("_", ".")):
            shutil.copy(os.path.join(flat, name),
                        os.path.join(nested, "sub", name))
    with pytest.raises(ValueError, match="no data files at the table root"):
        register_pages_bucketed_table(spark, nested, n_buckets=8,
                                      table="pages_bt_nested")


def test_bucket_layout_guard_ignores_writer_bookkeeping_dirs(spark):
    """An empty bucketed table whose root holds only a stale `_temporary`
    (or `.spark-staging-*`) dir, left by a crashed write, is still an empty
    table: the guard skips '_'/'.'-prefixed directories exactly as its
    data-file sweep skips such files, instead of reporting a nested
    layout."""
    import os
    import tempfile as _tf

    from sitecheck_spark.sources.catalog import register_pages_bucketed_table

    loc = _tf.mkdtemp() + "/pages_bt_stale"
    os.makedirs(os.path.join(loc, "_temporary", "0"))
    os.makedirs(os.path.join(loc, ".spark-staging-1"))
    table = register_pages_bucketed_table(spark, loc, n_buckets=8,
                                          table="pages_bt_stale")
    assert table.count() == 0


def test_remainder_reads_the_cached_election(spark):
    """elected and remainder are two filters of ONE persisted election
    frame: once the cache is built, remainder's executed plan is a scan of
    it — no Window and no Exchange outside the cached relation, so the
    frontier write never re-runs the ranking chain."""
    from sitecheck_spark.crawl import CrawlConfig, _elect, _split_election
    from sitecheck_spark.plans.checks import executed_node_names

    from test_crawl_golden import _election_case

    _rows, frontier, budgets = _election_case(spark)
    ranked = _elect(frontier, budgets,
                    CrawlConfig(budget_per_host=4, salt_buckets=3)).persist()
    elected, remainder = _split_election(ranked)
    try:
        elected.count()  # builds the cache, as the wave chain does
        remainder.collect()
        nodes = executed_node_names(remainder)
    finally:
        ranked.unpersist()
    assert "InMemoryTableScan" in nodes, nodes
    assert not [n for n in nodes if "Window" in n or "Exchange" in n], nodes


def test_new_urls_are_one_exact_anti_join(spark, monkeypatch):
    """"Already seen" has one answer: each wave's new-url frame executes as
    ONE left-anti join of the candidates against the seen set — no pandas
    cogroup anywhere in what it runs, cache builds included."""
    from sitecheck_spark import crawl as crawl_mod
    from sitecheck_spark.crawl import CrawlConfig, crawl
    from sitecheck_spark.plans.checks import executed_nodes
    from sitecheck_spark.sources.corpus import make_seeds_pdf

    plans = []
    gate = crawl_mod._robots_gate

    def spy(df, rules, passthrough):
        if "url_hash" in passthrough:  # the wave's candidate gate
            df.collect()
            nodes = executed_nodes(df, into_caches=True)
            plans.append(([n.nodeName() for n in nodes],
                          [n.joinType().toString() for n in nodes
                           if n.nodeName().endswith("Join")]))
        return gate(df, rules, passthrough)

    monkeypatch.setattr(crawl_mod, "_robots_gate", spy)
    pages = spark.createDataFrame(make_pages_pdf(60), PAGES_SCHEMA)
    res = crawl(spark, pages, make_seeds_pdf().url.tolist(),
                CrawlConfig(budget_per_host=3, max_waves=3, n_shards=4,
                            salt_buckets=2, run_checkers=False))
    res.release()
    assert len(plans) == 3
    for names, joins in plans:
        assert "FlatMapCoGroupsInPandas" not in names, names
        assert joins.count("LeftAnti") == 1, joins


def test_crawl_at_session_width_200_launches_no_200_task_stage(spark,
                                                               pages_parquet):
    """The per-crawl tables are built at the core count, not at the
    session's shuffle width: a 2-wave crawl in a session at Spark's default
    width of 200 launches no stage of 200 or more tasks. Built at the
    session width, the budgets and rules checkpoints kept 200 hash
    partitions, and every wave's election and gate joins shuffled the
    frontier to match them."""
    from sitecheck_spark.crawl import CrawlConfig, crawl
    from sitecheck_spark.sources.corpus import make_seeds_pdf

    pages = spark.read.parquet(pages_parquet)
    seeds = make_seeds_pdf().url.tolist()

    def run():
        res = crawl(spark, pages, seeds,
                    CrawlConfig(budget_per_host=3, max_waves=2, n_shards=4,
                                salt_buckets=2, run_checkers=False))
        waves = res.waves
        res.release()
        return waves

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        waves, jobs = jobs_launched_by(spark, run)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    tracker = spark.sparkContext.statusTracker()
    stages = [tracker.getStageInfo(s)
              for j in jobs for s in tracker.getJobInfo(j).stageIds]
    wide = [(s.stageId, s.name, s.numTasks) for s in stages
            if s is not None and s.numTasks >= 200]
    assert waves == 2 and jobs
    assert wide == []
