"""Deterministic synthetic Common-Crawl-style page corpus (FIXTURES.md §B).

Generates the mandated `pages` table shape (url, warc_ts, html:binary, text,
lang — BASELINE.json input_hint) with everything the checkers and the crawl
engine need planted deterministically (seed-addressed, order-independent):

- ~8 netlocs including one skew host holding ~50% of pages (exercises salted
  repartitioning, SURVEY.md §2.3 J5)
- link graph with guaranteed cycles, relative/absolute/fragment/off-domain
  links, dead links (broken-link checker C1), mailto/javascript noise
- HTML comments incl. "sensitive" ones (comment checker C3)
- planted misspellings absent from the dictionary (spelling checker C4)
- planted email addresses (regex checker C2)
- missing/overlong meta descriptions (metadata checker C5)
- 1–3 warc_ts versions per url (as-of window W3)
- robots.txt pages per netloc (robots gating R1)

Every row is a pure function of (seed, host, idx, version) — the generator
runs identically as a local pandas builder (tests) or distributed over
``spark.range(n).mapInPandas`` (bench-scale corpora), regardless of
partitioning. `text` == extract_text(html) byte-for-byte by construction.
"""

from __future__ import annotations

import datetime as dt
import random
from typing import Iterable, Iterator

import pandas as pd

from sitecheck_spark.extract import extract_text

SKEW_HOST = "big.example.com"
HOSTS = [
    SKEW_HOST,
    "alpha.example.org",   # robots: Disallow /private/
    "beta.example.net",    # robots: Crawl-delay
    "gamma.example.io",    # no robots.txt -> default allow
    "delta.example.dev",
    "docs.example.edu",
    "shop.example.co",
    "blog.example.me",
]
_SKEW_FRACTION = 0.5

DICTIONARY = sorted(
    set(
        """the a an and or of to in on for with from by at as is are was were be
        been have has had do does did will would can could should may might page
        site web link image script style data value table row column fast slow
        big small new old good bad first last next prev home about contact news
        article section header footer main nav list item text title meta word
        sentence paragraph check spell crawl spider fetch parse extract report
        status broken valid error warning info time date year month day hour
        user admin login search result query filter sort group join count sum
        index archive category tag comment post read write open close start end
        red green blue white black light dark left right top bottom center
        product price order cart shop buy sell free sale offer deal price stock
        music video photo film book story author editor review rating score
        """.split()
    )
)

# Planted misspellings — guaranteed absent from DICTIONARY (asserted in tests).
MISSPELLINGS = ["teh", "recieve", "adress", "seperate", "occured", "definately",
                "accomodate", "wierd", "untill", "pubilc"]

SENSITIVE_COMMENT_MARKERS = ("password", "secret", "api_key", "TODO")

ROBOTS_BODIES = {
    SKEW_HOST: "User-agent: *\nDisallow:\n",
    "alpha.example.org": "User-agent: *\nDisallow: /private/\n",
    "beta.example.net": "User-agent: *\nCrawl-delay: 5\nDisallow: /tmp/\n",
    # gamma.example.io deliberately has NO robots.txt (default allow)
    "delta.example.dev": "User-agent: *\nDisallow:\n",
    "docs.example.edu": "User-agent: *\nDisallow: /drafts/\n",
    "shop.example.co": "User-agent: *\nDisallow:\n",
    "blog.example.me": "User-agent: *\nDisallow:\n",
}

_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def host_layout(n_pages: int) -> list[tuple[str, int, int]]:
    """[(host, count, global_offset)] — skew host gets ~50% of pages."""
    counts = []
    skew = max(1, int(n_pages * _SKEW_FRACTION))
    rest = n_pages - skew
    per = rest // (len(HOSTS) - 1)
    extra = rest - per * (len(HOSTS) - 1)
    counts.append(skew)
    for i in range(1, len(HOSTS)):
        counts.append(per + (1 if i <= extra else 0))
    out, off = [], 0
    for host, c in zip(HOSTS, counts):
        out.append((host, c, off))
        off += c
    return out


def page_url(host: str, idx: int, private: bool = False) -> str:
    sub = "private" if private else "p"
    return f"https://{host}/{sub}/{idx}.html"


def n_redirects_for(host: str, count: int) -> int:
    """Redirect pages per host (/r/ namespace). The skew host gets a
    guaranteed 8-hop straight chain so the max_redirects cap (default 5) is
    exercised; other hosts get short 1–2-hop chains."""
    if count < 2:
        return 0
    return max(8, count // 12) if host == SKEW_HOST else max(1, count // 12)


def redirect_target(host: str, i: int, count: int, nr: int) -> str:
    """Deterministic meta-refresh target of /r/{i}.html."""
    if host == SKEW_HOST and i < nr - 1:
        return f"/r/{i + 1}.html"          # straight chain 0 -> 1 -> ... -> nr-1
    if host != SKEW_HOST and i % 3 == 1 and nr > 1:
        return f"/r/{(i + 1) % nr}.html"   # occasional 2-hop
    return f"/p/{(i * 7 + 3) % count}.html"


def _is_private(host: str, idx: int) -> bool:
    # ~20% of alpha's pages live under the robots-disallowed /private/ subtree.
    return host == "alpha.example.org" and idx % 5 == 4


DEFAULT_PROFILE = {"min_words": 30, "max_words": 120, "min_links": 2, "max_links": 5}
# heavier pages for throughput benches: more text to parse, more links to
# canonicalize/dedupe per wave
HEAVY_PROFILE = {"min_words": 300, "max_words": 900, "min_links": 8, "max_links": 16}
# scaling-evidence corpus: pages heavy enough that the vectorized parse pass
# (real per-page work) dominates fixed per-wave costs
XHEAVY_PROFILE = {"min_words": 1200, "max_words": 2600, "min_links": 15, "max_links": 25}


def _page_html(seed: int, host: str, idx: int, n_host_pages: int, version: int,
               profile: dict | None = None) -> tuple[str, str]:
    """Pure row function -> (html, lang). Deterministic in all args."""
    prof = profile or DEFAULT_PROFILE
    rng = random.Random(f"{seed}:{host}:{idx}:v{version}")
    lang = rng.choices(["en", "de", "fr"], weights=[90, 5, 5])[0]

    words = rng.choices(DICTIONARY, k=rng.randint(prof["min_words"], prof["max_words"]))
    if rng.random() < 0.25:
        pos = rng.randrange(len(words))
        words.insert(pos, rng.choice(MISSPELLINGS))
    if rng.random() < 0.2:
        words.append(f"contact{idx}@{host}")
    body_text = " ".join(words)

    # --- links ---
    links: list[str] = []
    # guaranteed cycle within host
    nxt = (idx + 1) % n_host_pages
    links.append(f"/{'private' if _is_private(host, nxt) else 'p'}/{nxt}.html")
    # deterministic link into the redirect namespace (no rng consumed, so
    # the rest of this page's random stream is unchanged)
    nr = n_redirects_for(host, n_host_pages)
    if nr and idx % 6 == 3:
        links.append(f"/r/{idx % nr}.html")
    for _ in range(rng.randint(prof["min_links"], prof["max_links"])):
        j = rng.randrange(n_host_pages)
        style = rng.randrange(5)
        priv = "private" if _is_private(host, j) else "p"
        if style == 0:
            links.append(f"https://{host}/{priv}/{j}.html")
        elif style == 1:
            links.append(f"{j}.html" if priv == "p" and not _is_private(host, idx) else f"/{priv}/{j}.html")
        elif style == 2:
            links.append(f"../{priv}/{j}.html")
        elif style == 3:
            links.append(f"/{priv}/{j}.html#section-{rng.randrange(4)}")
        else:
            links.append(f"https://{host.upper()}/{priv}/{j}.html")  # case-normalization
    if rng.random() < 0.4:  # cross-host link
        other = rng.choice([h for h in HOSTS if h != host])
        links.append(f"https://{other}/p/0.html")
    dead = rng.random() < 0.3
    if dead:
        links.append(f"/missing/{idx}.html")  # never generated -> broken
    if rng.random() < 0.2:
        links.append(f"mailto:webmaster@{host}")
    if rng.random() < 0.1:
        links.append("javascript:void(0)")

    anchors = "\n".join(
        f'<a href="{href}">link {i}</a>' for i, href in enumerate(links)
    )

    # Deterministic forms (idx arithmetic, NO rng consumed — earlier pages'
    # random streams are unchanged). Every 7th page posts to a sibling page
    # (exercises the verb/post_data request path, CRAWL CONTRACT v3); every
    # 7th+5 page gets a GET search form, whose action behaves as a link.
    form_html = ""
    if idx % 7 == 2:
        tgt = (idx * 3) % n_host_pages
        priv = "private" if _is_private(host, tgt) else "p"
        form_html = (
            f'<form method="post" action="/{priv}/{tgt}.html">'
            f'<input type="hidden" name="page" value="{idx}">'
            f'<input type="text" name="q" value="find">'
            f'<input type="submit" value="go"></form>'
        )
    elif idx % 7 == 5:
        tgt = (idx * 5) % n_host_pages
        priv = "private" if _is_private(host, tgt) else "p"
        form_html = (
            f'<form method="get" action="/{priv}/{tgt}.html">'
            f'<input name="s" value="1"></form>'
        )

    comments = [f"<!-- generated page {idx} v{version} -->"]
    if rng.random() < 0.15:
        marker = rng.choice(SENSITIVE_COMMENT_MARKERS)
        comments.append(f"<!-- {marker}: remove before launch -->")

    meta_desc = ""
    r = rng.random()
    if r < 0.6:
        meta_desc = f'<meta name="description" content="Description of page {idx} on {host}.">'
    elif r < 0.75:
        meta_desc = f'<meta name="description" content="{" ".join(rng.choices(DICTIONARY, k=60))}">'
    # else: missing description (metadata checker target)

    title = f"<title>Page {idx} &mdash; {host}</title>" if rng.random() < 0.9 else ""

    html = f"""<!DOCTYPE html>
<html lang="{lang}">
<head>
{title}
{meta_desc}
<style>body {{ margin: 0; }}</style>
<script src="/assets/app.js"></script>
</head>
<body>
{comments[0]}
<h1>Page {idx}</h1>
<p>{body_text}</p>
{anchors}
{form_html}
{comments[1] if len(comments) > 1 else ""}
<img src="/assets/logo-{idx % 7}.png" alt="logo">
<script>var x = {idx};</script>
</body>
</html>"""
    return html, lang


def _versions_for(seed: int, host: str, idx: int) -> int:
    rng = random.Random(f"{seed}:ver:{host}:{idx}")
    r = rng.random()
    return 3 if r < 0.1 else (2 if r < 0.4 else 1)


def _rows_for_global_ids(ids: Iterable[int], n_pages: int, seed: int,
                         profile: dict | None = None) -> Iterator[tuple]:
    layout = host_layout(n_pages)
    for g in ids:
        # locate host by offset
        for host, count, off in layout:
            if off <= g < off + count:
                idx = g - off
                break
        else:
            continue
        n_versions = _versions_for(seed, host, idx)
        url = page_url(host, idx, _is_private(host, idx))
        for v in range(n_versions):
            html, lang = _page_html(seed, host, idx, count, v, profile)
            ts = _EPOCH + dt.timedelta(hours=g % 8760, minutes=17 * v)
            yield (url, ts, html.encode("utf-8"), extract_text(html), lang)


def _redirect_rows(n_pages: int) -> list[tuple]:
    """Meta-refresh redirect pages (/r/{i}.html per host). Few relative to
    the corpus (count//12), so they are generated driver-side like robots
    rows; the skew host's straight chain exceeds the default hop cap."""
    rows = []
    for host, count, _off in host_layout(n_pages):
        nr = n_redirects_for(host, count)
        for i in range(nr):
            target = redirect_target(host, i, count, nr)
            html = (
                "<!DOCTYPE html>\n<html>\n<head>\n"
                f'<title>Redirect {i}</title>\n'
                f'<meta http-equiv="refresh" content="0;url={target}">\n'
                "</head>\n<body>\n"
                f"<p>moved permanently redirecting to {target}</p>\n"
                "</body>\n</html>"
            )
            rows.append((
                f"https://{host}/r/{i}.html", _EPOCH, html.encode("utf-8"),
                extract_text(html), "en",
            ))
    return rows


def _robots_rows() -> list[tuple]:
    rows = []
    for host, body in ROBOTS_BODIES.items():
        ts = _EPOCH
        html = body  # robots bodies stored verbatim; text == body
        rows.append((f"https://{host}/robots.txt", ts, html.encode("utf-8"), body, "en"))
    return rows


PAGES_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


def make_pages_pdf(n_pages: int, seed: int = 42, include_robots: bool = True,
                   profile: dict | None = None) -> pd.DataFrame:
    """Local (pandas) corpus for tests. Includes robots.txt pages."""
    rows = list(_rows_for_global_ids(range(n_pages), n_pages, seed, profile))
    rows.extend(_redirect_rows(n_pages))
    if include_robots:
        rows.extend(_robots_rows())
    return pd.DataFrame(rows, columns=PAGES_COLUMNS)


def generate_pages_spark(spark, n_pages: int, seed: int = 42, partitions: int | None = None,
                         profile: dict | None = None):
    """Distributed corpus generation: spark.range -> mapInPandas.

    Identical output to make_pages_pdf for the same (n_pages, seed) regardless
    of partitioning — every row is a pure function of its global id. This is
    the scale path: generation of an N-billion-row corpus parallelizes
    linearly with no driver bottleneck.
    """
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = list(_rows_for_global_ids(pdf["id"].tolist(), n_pages, seed, profile))
            yield pd.DataFrame(rows, columns=PAGES_COLUMNS)

    rng = spark.range(0, n_pages, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    pages = rng.mapInPandas(gen, schema=schema)
    extra = spark.createDataFrame(
        pd.DataFrame(_redirect_rows(n_pages) + _robots_rows(), columns=PAGES_COLUMNS),
        schema=schema,
    )
    return pages.unionByName(extra)


def make_seeds_pdf() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "url": [
                page_url(SKEW_HOST, 0),
                page_url("alpha.example.org", 0),
                page_url("gamma.example.io", 0),
            ],
            "priority": [0.0, 0.0, 0.0],
        }
    )


def make_dictionary_pdf() -> pd.DataFrame:
    return pd.DataFrame({"word": DICTIONARY})


def bench_seeds(n_pages: int, every: int = 1000) -> list[str]:
    """Deterministic seed list spread across hosts for throughput benches."""
    seeds = []
    for host, count, _off in host_layout(n_pages):
        for idx in range(0, count, every):
            if not _is_private(host, idx):
                seeds.append(page_url(host, idx))
    return seeds
