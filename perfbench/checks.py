"""Correctness gates: every timed crawl against the golden reference crawler,
every operator query against its DuckDB oracle."""

from __future__ import annotations

from collections import Counter


def crawl_summary(fetch_rows, seen_rows, finding_rows) -> dict:
    """The compared projection of a crawl result (as tests/test_crawl_golden
    does): the fetch-log (verb, url, wave) set, the final seen set, and the
    findings multiset per module. Rows may be Spark Rows or dicts."""
    findings: dict[str, Counter] = {}
    for f in finding_rows:
        findings.setdefault(f["module"], Counter())[
            (f["url"], f["wave"], f["detail"], f["referrer"])] += 1
    return {
        "fetch": {(r["verb"], r["url"], r["wave"]) for r in fetch_rows},
        "seen": {(r["verb"], r["url"], r["post_data"]) for r in seen_rows},
        "findings": findings,
    }


def golden_summary(golden) -> dict:
    return crawl_summary(golden.fetch_log,
                         [{"verb": v, "url": u, "post_data": d}
                          for v, u, d in golden.seen],
                         golden.findings)


def compare_crawl(got: dict, want: dict) -> list[str]:
    """Mismatch descriptions; empty when the crawl matches the reference."""
    problems = []
    for key in ("fetch", "seen"):
        if got[key] != want[key]:
            problems.append(f"{key}: {len(got[key] - want[key])} extra, "
                            f"{len(want[key] - got[key])} missing")
    for module in sorted(set(got["findings"]) | set(want["findings"])):
        g = got["findings"].get(module, Counter())
        w = want["findings"].get(module, Counter())
        if g != w:
            problems.append(f"findings[{module}]: {sum((g - w).values())} extra, "
                            f"{sum((w - g).values())} missing")
    return problems


class Collected:
    """A collected query result that testing.compare accepts in place of a
    DataFrame, so the oracle comparison can run after the Spark work is timed."""

    def __init__(self, columns: list[str], rows: list):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def compare_query(duck, sql: str | None, collected: Collected) -> str | None:
    """None when the query result matches its oracle. Queries without an
    oracle SQL are checked for a non-empty result."""
    from sitecheck_spark.testing import compare

    if sql is None:
        return None if collected.collect() else "empty result"
    res = compare(collected, duck.sql(sql))
    return None if res["match"] else res["detail"]
