"""Driver contract for the spark-graft builder (PySpark target).

entry()       — flagship: run the crawl engine end-to-end on a deterministic
                60-page synthetic corpus and return the fetch log (the
                engine's core artifact: crawl order + statuses).
queries()     — one entry per implemented operator (SURVEY.md §2 +
                training-pipeline dedup/similarity/text-analysis ops),
                each (spark, sf_dir) -> DataFrame.
oracle_sql()  — DuckDB twins with identical column names/types for every
                SQL-expressible query; engine-hash/iterative/stateful ops
                are rows-only by design (see sitecheck_spark/queries.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BFS crawl (politeness + robots + exact seen-set + checkers)
    over a deterministic synthetic page corpus; returns the fetch log."""
    from sitecheck_spark.crawl import CrawlConfig, crawl
    from sitecheck_spark.sources.corpus import (
        generate_pages_spark,
        make_dictionary_pdf,
        make_seeds_pdf,
    )

    pages = generate_pages_spark(spark, 60, seed=42)
    dictionary = spark.createDataFrame(make_dictionary_pdf())
    cfg = CrawlConfig(budget_per_host=4, max_waves=4, n_shards=4, salt_buckets=2)
    res = crawl(spark, pages, make_seeds_pdf().url.tolist(), cfg, dictionary=dictionary)
    return res.fetch_log.orderBy("wave", "priority", "url")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from sitecheck_spark.queries import queries as _queries

    return _queries()


def oracle_sql() -> dict[str, str]:
    from sitecheck_spark.queries import oracle_sql as _oracle_sql

    return _oracle_sql()
