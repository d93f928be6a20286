"""Robots gating: compiled prefix-rule gate must equal urllib.robotparser."""

import pandas as pd
import pytest

from sitecheck_spark import robots as robots_mod
from sitecheck_spark.crawl import (
    _RULES_SCHEMA,
    _compile_rules_batches,
    _robots_gate,
    _rules_array,
)
from sitecheck_spark.sources.corpus import ROBOTS_BODIES

EXTRA_BODIES = {
    "multi.example.com": (
        "User-agent: otherbot\nDisallow: /\n\n"
        "User-agent: *\nAllow: /private/open/\nDisallow: /private/\n"
        "Disallow: /tmp\nDisallow:\n"
    ),
    "allowall.example.com": "User-agent: *\nDisallow:\n",
    "blockall.example.com": "User-agent: *\nDisallow: /\n",
    # adversarial quoting cases: rule prefixes extending into the query,
    # chars robotparser's quote(safe='/') encodes ('?', ':', '=') vs our
    # canonical form's wider safe set, pre-percent-encoded rules
    "query.example.com": (
        "User-agent: *\nDisallow: /p?x\nDisallow: /search?q=secret\n"
        "Disallow: /a:b\nDisallow: /enc%20oded\n"
    ),
}

PATHS = [
    "/", "/p/1.html", "/private/4.html", "/private/open/x.html", "/privateer",
    "/tmp", "/tmp/x", "/TMP/x", "/a/b/c.html?q=1", "/robots.txt",
    # query/quoting probes for query.example.com's rules
    "/p?x=1", "/p?y=1", "/p", "/search?q=secret", "/search?q=public",
    "/a:b/c", "/a%3Ab/c", "/enc%20oded/x", "/enc oded/x",
]


def test_compiled_gate_equals_robotparser(spark):
    bodies = {**ROBOTS_BODIES, **EXTRA_BODIES}
    robots_df = spark.createDataFrame(
        pd.DataFrame({"netloc": list(bodies), "rules": list(bodies.values())})
    )
    rules = _rules_array(robots_df.mapInPandas(_compile_rules_batches, _RULES_SCHEMA))

    rows = [
        (f"https://{nl}{path}", nl) for nl in bodies for path in PATHS
    ]
    df = spark.createDataFrame(rows, "url string, netloc string")
    got = {
        r["url"]: r["robots_allowed"]
        for r in _robots_gate(df, rules, ["url", "netloc"]).collect()
    }
    for url, nl in rows:
        want = robots_mod.allowed(bodies[nl], url)
        assert got[url] == want, f"{url}: compiled={got[url]} robotparser={want}"


def test_missing_netloc_defaults_to_allow(spark):
    robots_df = spark.createDataFrame(
        pd.DataFrame({"netloc": ["known.example.com"], "rules": ["User-agent: *\nDisallow: /\n"]})
    )
    rules = _rules_array(robots_df.mapInPandas(_compile_rules_batches, _RULES_SCHEMA))
    df = spark.createDataFrame(
        [("https://unknown.example.com/x", "unknown.example.com"),
         ("https://known.example.com/x", "known.example.com")],
        "url string, netloc string",
    )
    got = {r["url"]: r["robots_allowed"]
           for r in _robots_gate(df, rules, ["url", "netloc"]).collect()}
    assert got["https://unknown.example.com/x"] is True
    assert got["https://known.example.com/x"] is False
