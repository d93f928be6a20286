"""robots.txt gating (SURVEY.md §2.8 R1) — stdlib urllib.robotparser.

The crawl compiles each host's rules once with robotparser
(crawl._compile_rules_batches) and gates urls against them in the JVM,
matching the path string `match_path` builds (crawl._robots_gate).
`allowed` is the per-url reference verdict the tests and golden.py use.
"""

from __future__ import annotations

import io
import urllib.parse
from urllib.robotparser import RobotFileParser

USER_AGENT = "sitecheck-spark"


def match_path(url: str) -> str:
    """The exact string RobotFileParser.can_fetch matches rule prefixes
    against: quote(urlunparse(('','',path,params,query,fragment))) of the
    UNQUOTED url, '/' when empty. Compiled rule prefixes (RuleLine.path) are
    already quoted by robotparser itself, so prefix-matching this string in
    the JVM gate reproduces robotparser verdicts byte-for-byte — including
    rules whose prefix extends into the query ('Disallow: /p?x') and chars
    that quote(safe='/') encodes differently than our canonical form."""
    try:
        parsed = urllib.parse.urlparse(urllib.parse.unquote(url))
        path = urllib.parse.urlunparse(
            ("", "", parsed.path, parsed.params, parsed.query, parsed.fragment)
        )
        return urllib.parse.quote(path) or "/"
    except Exception:
        return "/"


def _build_parser(rules: str) -> RobotFileParser:
    rp = RobotFileParser()
    rp.parse(io.StringIO(rules).read().splitlines())
    return rp


def allowed(rules: str | None, url: str) -> bool:
    """True iff `url` may be fetched. Missing robots.txt -> allow (web norm)."""
    if not rules:
        return True
    try:
        return _build_parser(rules).can_fetch(USER_AGENT, url)
    except Exception:
        return True


def crawl_delay(rules: str | None) -> float | None:
    if not rules:
        return None
    try:
        rp = _build_parser(rules)
        d = rp.crawl_delay(USER_AGENT)
        return float(d) if d is not None else None
    except Exception:
        return None
