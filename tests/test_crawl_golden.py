"""End-to-end golden-crawl parity (SURVEY.md §5.4).

The Spark engine (crawl.py) must reproduce the single-threaded golden
reference crawler's crawl ordering, final URL-seen set, fetch log and
checker findings exactly, on a deterministic corpus with planted broken
links, robots exclusions, a skew host, cycles, misspellings and sensitive
comments (FIXTURES.md §B).
"""

from collections import Counter

import pytest

from sitecheck_spark.crawl import CrawlConfig, crawl
from sitecheck_spark.golden import golden_crawl
from sitecheck_spark.sources.corpus import (
    DICTIONARY,
    MISSPELLINGS,
    ROBOTS_BODIES,
    make_dictionary_pdf,
    make_pages_pdf,
    make_seeds_pdf,
)

N_PAGES = 60
BUDGET = 3
MAX_WAVES = 6

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


@pytest.fixture(scope="module")
def corpus_pdf():
    return make_pages_pdf(N_PAGES)


@pytest.fixture(scope="module")
def golden(corpus_pdf):
    return golden_crawl(
        [tuple(r) for r in corpus_pdf.itertuples(index=False)],
        make_seeds_pdf().url.tolist(),
        ROBOTS_BODIES,
        set(DICTIONARY),
        budget_per_host=BUDGET,
        max_waves=MAX_WAVES,
    )


@pytest.fixture(scope="module")
def engine(spark, corpus_pdf):
    pages = spark.createDataFrame(corpus_pdf, schema=PAGES_SCHEMA)
    dictionary = spark.createDataFrame(make_dictionary_pdf())
    cfg = CrawlConfig(
        budget_per_host=BUDGET,
        max_waves=MAX_WAVES,
        n_shards=4,
        salt_buckets=2,
    )
    res = crawl(spark, pages, make_seeds_pdf().url.tolist(), cfg,
                dictionary=dictionary)
    yield res
    res.release()  # cached wave state must not leak into later modules


def test_generator_invariants(corpus_pdf):
    assert not (set(MISSPELLINGS) & set(DICTIONARY))
    # skew host holds ~50% of pages
    hosts = corpus_pdf[~corpus_pdf.url.str.endswith("robots.txt")].url.str.split("/").str[2]
    assert hosts.value_counts().iloc[0] / len(hosts) > 0.4
    # POST forms are planted so the verb/post_data request path is exercised
    html = corpus_pdf.html.apply(
        lambda b: b.decode("utf-8", "replace") if isinstance(b, (bytes, bytearray)) else str(b))
    assert html.str.contains('method="post"').any()


def test_crawl_order_matches_golden(golden, engine):
    got = [
        (r["wave"], r["priority"], r["url"], r["verb"], r["post_data"], r["status"])
        for r in engine.fetch_log.orderBy(
            "wave", "priority", "url", "verb", "post_data").collect()
    ]
    want = [(r["wave"], r["priority"], r["url"], r["verb"], r["post_data"],
             r["status"]) for r in golden.fetch_log]
    assert got == want
    assert len(got) > 10


def test_seen_set_matches_golden(golden, engine):
    got = {(r["verb"], r["url"], r["post_data"]) for r in
           engine.seen.select("verb", "url", "post_data").collect()}
    assert got == golden.seen


def test_findings_match_golden(golden, engine):
    got = Counter(
        (r["module"], r["url"], r["wave"], r["detail"], r["referrer"])
        for r in engine.findings.collect()
    )
    want = Counter(
        (f["module"], f["url"], f["wave"], f["detail"], f["referrer"])
        for f in golden.findings
    )
    assert got == want


def test_findings_cover_planted_signals(golden):
    modules = Counter(f["module"] for f in golden.findings)
    assert modules["broken_link"] > 0
    assert modules["spelling"] > 0
    assert modules["metadata"] > 0


def test_redirect_chain_cap_matches_golden(spark):
    """A straight 8-hop meta-refresh chain: the engine must follow it hop by
    hop, stop at max_redirects=5 with a `redirect` finding, and never enqueue
    the over-cap tail — byte-identically to golden."""
    import datetime as dt

    from sitecheck_spark.extract import extract_text

    host = "chain.example.com"
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

    def page(path, body_html):
        html = f"<html><head><title>t</title></head><body>{body_html}</body></html>"
        return (f"https://{host}{path}", ts, html.encode(), extract_text(html), "en")

    def redirect(path, target):
        html = (f'<html><head><meta http-equiv="refresh" content="0;url={target}">'
                f"</head><body>hop</body></html>")
        return (f"https://{host}{path}", ts, html.encode(), extract_text(html), "en")

    rows = [page("/p/0.html", '<a href="/r/0.html">go</a>'), page("/p/1.html", "end")]
    rows += [redirect(f"/r/{i}.html", f"/r/{i + 1}.html") for i in range(7)]
    rows += [redirect("/r/7.html", "/p/1.html")]

    pages = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    seeds = [f"https://{host}/p/0.html"]
    cfg = CrawlConfig(budget_per_host=10, max_waves=12, n_shards=2, salt_buckets=2,
                      run_checkers=False)
    eng = crawl(spark, pages, seeds, cfg)
    gold = golden_crawl(rows, seeds, {}, set(), budget_per_host=10, max_waves=12)

    got_order = [(r["wave"], r["url"], r["status"]) for r in
                 eng.fetch_log.orderBy("wave", "priority", "url").collect()]
    want_order = [(r["wave"], r["url"], r["status"]) for r in gold.fetch_log]
    assert got_order == want_order
    assert {r["url"] for r in eng.seen.collect()} == gold.seen_urls

    # engine ran with run_checkers=False -> compare crawl-level findings only
    crawl_modules = ("redirect", "broken_link", "robots")
    got_f = Counter((r["module"], r["url"], r["detail"]) for r in
                    eng.findings.collect() if r["module"] in crawl_modules)
    want_f = Counter((f["module"], f["url"], f["detail"]) for f in gold.findings
                     if f["module"] in crawl_modules)
    assert got_f == want_f
    # the cap fires exactly once, at hop 5 (/r/4 -> /r/5 ok, /r/5 -> /r/6 over)
    cap = [k for k in got_f if k[0] == "redirect"]
    assert cap == [("redirect", f"https://{host}/r/5.html",
                    f"max_redirects_exceeded https://{host}/r/6.html")]
    assert f"https://{host}/r/6.html" not in gold.seen_urls
    eng.release()


def test_post_form_requests_distinct_identity(spark):
    """CONTRACT v3 (verb + post data on the Request, SURVEY.md §1.1): a page
    linking to B AND posting a form to B produces TWO requests for B — the
    request identity is (verb, url, post_data), so both are crawled, both
    appear in the fetch log with their verb, and the seen set holds the two
    identities separately. Engine must match golden exactly."""
    import datetime as dt

    from sitecheck_spark.extract import extract_text

    host = "forms.example.com"
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

    def page(path, body_html):
        html = f"<html><head><title>t</title></head><body>{body_html}</body></html>"
        return (f"https://{host}{path}", ts, html.encode(), extract_text(html), "en")

    rows = [
        page("/p/0.html",
             '<a href="/p/1.html">b</a>'
             '<form method="post" action="/p/1.html">'
             '<input type="hidden" name="page" value="0"></form>'),
        page("/p/1.html", "leaf"),
    ]
    pages = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    seeds = [f"https://{host}/p/0.html"]
    cfg = CrawlConfig(budget_per_host=10, max_waves=4, n_shards=2,
                      salt_buckets=2, run_checkers=False)
    eng = crawl(spark, pages, seeds, cfg)
    gold = golden_crawl(rows, seeds, {}, set(), budget_per_host=10, max_waves=4)

    got = [(r["wave"], r["url"], r["verb"], r["post_data"], r["status"])
           for r in eng.fetch_log.orderBy(
               "wave", "priority", "url", "verb", "post_data").collect()]
    want = [(r["wave"], r["url"], r["verb"], r["post_data"], r["status"])
            for r in gold.fetch_log]
    assert got == want
    b = f"https://{host}/p/1.html"
    assert [(u, v, d) for (_, u, v, d, _) in got].count((b, "GET", "")) == 1
    assert [(u, v, d) for (_, u, v, d, _) in got].count((b, "POST", "page=0")) == 1

    got_seen = {(r["verb"], r["url"], r["post_data"]) for r in eng.seen.collect()}
    assert got_seen == gold.seen
    assert ("POST", b, "page=0") in gold.seen and ("GET", b, "") in gold.seen
    eng.release()


def test_component_budget_pools_mirror_hosts(spark):
    """host_components (X26's promised consumer): politeness budget binds
    per connected component of the host graph, not per host — two mirror
    hosts share ONE budget pool sized by the politest member, and the
    pooled election keeps the contract-v3 total order (priority, url, verb,
    post_data) across the merged pool. The components are derived by
    actually running operators.graph.connected_components on the host link
    graph, not hand-assigned."""
    from datetime import datetime

    from pyspark.sql import functions as F
    from sitecheck_spark.extract import extract_text
    from sitecheck_spark.operators.graph import connected_components

    ts = datetime(2024, 1, 1)
    hosts = ["a.example.net", "b.example.net", "c.example.net"]

    def page(host, path, html):
        return (f"https://{host}{path}", ts, html.encode(),
                extract_text(html), "en")

    def fanout(host, cross=None):
        links = "".join(f'<a href="/{i}.html">x</a>' for i in range(1, 10))
        if cross:
            links += f'<a href="https://{cross}/0.html">m</a>'
        rows = [page(host, "/0.html", links)]
        rows += [page(host, f"/{i}.html", "leaf") for i in range(1, 10)]
        return rows

    rows = fanout("a.example.net", cross="b.example.net") \
        + fanout("b.example.net", cross="a.example.net") \
        + fanout("c.example.net")
    pages = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    seeds = [f"https://{h}/0.html" for h in hosts]
    base = dict(budget_per_host=3, max_waves=2, n_shards=2, salt_buckets=2,
                run_checkers=False)

    # components from the real CC operator over the host link graph
    # (a <-> b cross-linked, c isolated)
    host_ids = spark.createDataFrame(
        list(enumerate(hosts)), "node long, netloc string"
    )
    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    comp = connected_components(host_ids.select("node"), edges)
    host_components = host_ids.join(comp, "node").select("netloc", "component")
    assert {tuple(r) for r in host_components.collect()} == {
        ("a.example.net", 0), ("b.example.net", 0), ("c.example.net", 2)
    }

    plain = crawl(spark, pages, seeds, CrawlConfig(**base))
    pooled = crawl(spark, pages, seeds, CrawlConfig(**base),
                   host_components=host_components)

    def wave1(res):
        return sorted(
            r["url"] for r in res.fetch_log.filter(F.col("wave") == 1).collect()
        )

    # per-host: 3 from each of a, b, c
    assert len(wave1(plain)) == 9
    # pooled: a+b share one budget of 3; the contract-v3 order over the
    # merged pool elects the lexicographically-first urls (equal priority),
    # all on host a; c keeps its own 3
    got = wave1(pooled)
    assert len(got) == 6
    assert [u for u in got if "c.example.net" not in u] == [
        "https://a.example.net/1.html",
        "https://a.example.net/2.html",
        "https://a.example.net/3.html",
    ]
    plain.release()
    pooled.release()


def test_identity_election_fast_path_equals_elect(spark):
    """The throughput-mode shortcut (skip _elect when frontier rows <=
    min budget) relies on _elect being the identity there: every group is
    under budget, so the whole frontier elects and the remainder is empty.
    Pin that equivalence directly on _elect."""
    from pyspark.sql import functions as F
    from sitecheck_spark.crawl import CrawlConfig, _elect, _split_election

    rows = [
        (f"https://h{i % 3}.example.org/p/{i}.html", f"h{i % 3}.example.org",
         1, 0.0, "", 0, "GET", "")
        for i in range(12)
    ]
    frontier = spark.createDataFrame(
        rows, "url string, netloc string, depth int, priority double, "
              "referrer string, redirects int, verb string, post_data string")
    budgets = spark.createDataFrame(
        [("h0.example.org", 50), ("h1.example.org", 99)], "netloc string, budget int")
    cfg = CrawlConfig(budget_per_host=60, salt_buckets=4)
    # n_frontier = 12 <= min_budget = min(60, 50, 99) = 50 -> identity
    elected, remainder = _split_election(_elect(frontier, budgets, cfg))
    want = {tuple(r) for r in rows}
    got = {(r["url"], r["netloc"], r["depth"], r["priority"], r["referrer"],
            r["redirects"], r["verb"], r["post_data"])
           for r in elected.collect()}
    assert got == want
    assert remainder.count() == 0


_FRONTIER_DDL = ("url string, netloc string, depth int, priority double, "
                 "referrer string, redirects int, verb string, post_data string")


def _election_case(spark):
    """A frontier built to stress the election's exactness: priority ties
    broken by url, GET/POST twins of one url broken by verb and post_data,
    a Crawl-delay host whose budget drops to floor(4 / 2) = 2, two hosts
    over budget (so salted phase 1 cuts rows), one host exactly at budget
    and one under it (the wholesale fast path)."""
    from sitecheck_spark.crawl import _BUDGET_SCHEMA, _budgets_fn

    rows = []
    for i in range(9):  # slow.example.org: Crawl-delay 2, over budget 2
        rows.append((f"https://slow.example.org/p/{i}.html", "slow.example.org",
                     1, float(i % 2), "", 0, "GET", ""))
    for i in range(6):  # tie.example.org: equal priority, GET + POST twins
        url = f"https://tie.example.org/p/{i % 3}.html"
        verb, data = ("GET", "") if i < 3 else ("POST", f"page={i}")
        rows.append((url, "tie.example.org", 1, 1.0, "", 0, verb, data))
    rows.append(("https://tie.example.org/p/0.html", "tie.example.org",
                 1, 1.0, "", 0, "POST", "page=0"))
    for i in range(4):  # exact.example.org: exactly at budget 4
        rows.append((f"https://exact.example.org/{i}.html", "exact.example.org",
                     2, 2.0, "", 0, "GET", ""))
    for i in range(2):  # small.example.org: under budget
        rows.append((f"https://small.example.org/{i}.html", "small.example.org",
                     3, 0.0, "", 0, "GET", ""))
    robots = spark.createDataFrame(
        [("slow.example.org", "User-agent: *\nCrawl-delay: 2\n"),
         ("tie.example.org", "User-agent: *\nDisallow: /private/\n")],
        "netloc string, rules string")
    budgets = robots.mapInPandas(_budgets_fn(4), _BUDGET_SCHEMA)
    return rows, spark.createDataFrame(rows, _FRONTIER_DDL), budgets


def test_election_equals_brute_force_per_host_top_budget(spark):
    """The one-frame election (win flag, split by filters) elects exactly a
    brute-force per-host top-B in the contract-v3 total order (priority,
    url, verb, post_data), and the remainder is exactly the rest."""
    from sitecheck_spark.crawl import CrawlConfig, _elect, _split_election

    rows, frontier, budgets = _election_case(spark)
    budget = {r["netloc"]: r["budget"] for r in budgets.collect()}
    assert budget["slow.example.org"] == 2
    want_elected = set()
    for host in {r[1] for r in rows}:
        group = sorted((r for r in rows if r[1] == host),
                       key=lambda r: (r[3], r[0], r[6], r[7]))
        want_elected |= set(group[:budget.get(host, 4)])
    want_remainder = set(rows) - want_elected
    assert want_remainder and any(r[1] == "tie.example.org" for r in want_remainder)

    ranked = _elect(frontier, budgets,
                    CrawlConfig(budget_per_host=4, salt_buckets=3)).persist()
    elected, remainder = _split_election(ranked)
    got_elected = [tuple(r) for r in elected.select(*frontier.columns).collect()]
    got_remainder = [tuple(r) for r in remainder.select(*frontier.columns).collect()]
    ranked.unpersist()
    assert len(got_elected) == len(set(got_elected))
    assert set(got_elected) == want_elected
    assert sorted(got_remainder) == sorted(want_remainder)


def test_wave_step_is_pure_and_keeps_its_invariants(spark, corpus_pdf):
    """One wave step, called directly on a gated seed frontier with no
    catalog: its only jobs are its wave_chain checkpoints, it leaves the
    session conf alone, its fetch-log delta holds exactly the elected
    requests, its next frontier is the election remainder plus the
    robots-allowed new requests, and the seen set it returns is unique by
    request identity."""
    from sitecheck_spark import robots as robots_mod
    from sitecheck_spark.crawl import (
        _crawl_tables,
        _gate_seeds,
        _split_election,
        _wave,
    )
    from sitecheck_spark.functions.urls import canonicalize, netloc_of

    from conftest import jobs_launched_by

    # four pages per host, so the budget of 3 leaves a remainder, plus a
    # robots-blocked seed
    urls = sorted(u for u in corpus_pdf.url if not u.endswith("/robots.txt"))
    by_host = {}
    for u in urls:
        by_host.setdefault(netloc_of(u), []).append(u)
    seeds = sorted({canonicalize(u) for host_urls in by_host.values()
                    for u in host_urls[:4]}
                   | {"https://alpha.example.org/private/4.html"})
    cfg = CrawlConfig(budget_per_host=BUDGET, n_shards=4, salt_buckets=2,
                      run_checkers=False)
    pages = spark.createDataFrame(corpus_pdf, schema=PAGES_SCHEMA)
    tables = _crawl_tables(spark, pages, sorted(by_host), cfg, None, None)
    frontier, n_frontier, seen, _ = _gate_seeds(spark, seeds, tables.rules, cfg)
    key = lambda r: (r["verb"], r["url"], r["post_data"])
    seen_before = {key(r) for r in seen.collect()}

    conf_before = spark.conf.getAll
    (state, deltas, frontier_rows, ranked), jobs = jobs_launched_by(
        spark, lambda: _wave(tables, frontier, seen, n_frontier, cfg, 0))
    conf_after = spark.conf.getAll
    try:
        tracker = spark.sparkContext.statusTracker()
        names = {tracker.getStageInfo(s).name
                 for j in jobs for s in tracker.getJobInfo(j).stageIds}
        elected, remainder = _split_election(ranked)
        elected_rows = Counter(map(key, elected.collect()))
        remainder_rows = Counter(map(key, remainder.collect()))
        log = deltas["fetch_log"].collect()
        next_frontier = Counter(map(key, state["frontier"].collect()))
        seen_rows = state["seen"].collect()
    finally:
        ranked.unpersist()
        frontier.unpersist()
        seen.unpersist()

    assert jobs and names == {"wave_chain"}, names
    assert conf_after == conf_before
    assert Counter(map(key, log)) == elected_rows
    assert {r["wave"] for r in log} == {0}
    assert sum(elected_rows.values()) == n_frontier - sum(remainder_rows.values())
    assert remainder_rows

    identities = Counter(map(key, seen_rows))
    assert max(identities.values()) == 1
    new = [r for r in seen_rows if key(r) not in seen_before]
    assert set(identities) >= seen_before and new
    allowed_new = Counter(
        key(r) for r in new
        if robots_mod.allowed(ROBOTS_BODIES.get(netloc_of(r["url"])), r["url"]))
    assert next_frontier == remainder_rows + allowed_new
    assert frontier_rows.get["rows"] == sum(next_frontier.values())
