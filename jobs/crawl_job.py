"""spark-submit entry point for the crawl engine.

Ships to a cluster as:

    python scripts/package.py                       # -> dist/sitecheck_spark.zip
    spark-submit --py-files dist/sitecheck_spark.zip jobs/crawl_job.py \\
        --pages s3://bucket/pages/ \\
        --seeds https://example.com/ \\
        --out   /mnt/shared/crawl-out/ \\
        --checkpoint-dir /mnt/shared/crawl-ckpt/ \\
        --budget 100 --max-waves 20

On a cluster the SparkSession comes from spark-submit's conf (`--master`,
executors, memory); this script only builds the session when run standalone.
A killed job rerun with the same --checkpoint-dir resumes exactly from the
last committed wave (sitecheck_spark/sources/catalog.py).

PATH RESTRICTIONS: --pages and --checkpoint-dir may be any Spark-readable
URI (s3a://, hdfs://, file://) — the wave catalog routes its rename-commit
protocol through the Hadoop FileSystem API for scheme'd bases (with the
local-path fast path kept; on raw S3 use a consistent committer layer, as
rename is copy-based there). --out must remain a LOCAL/POSIX path visible
to the driver: the report summary writes with plain open(). A real Iceberg
catalog replaces the parquet wave tables wholesale when its runtime jar is
available (sources/catalog.py docstring).
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def main() -> None:
    p = argparse.ArgumentParser(description="sitecheck-spark BFS crawl")
    p.add_argument("--pages", required=True, help="pages table path (parquet/Iceberg)")
    p.add_argument("--seeds", required=True, nargs="+", help="seed urls")
    p.add_argument("--out", required=True, help="report output dir")
    p.add_argument("--checkpoint-dir", default=None, help="resumable wave checkpoints")
    p.add_argument("--dictionary", default=None, help="parquet with a `word` column")
    p.add_argument("--budget", type=int, default=10, help="politeness budget/host/wave")
    p.add_argument("--max-waves", type=int, default=50)
    p.add_argument("--max-depth", type=int, default=10)
    p.add_argument("--n-shards", type=int, default=256)
    p.add_argument("--no-broadcast-fetch", action="store_true",
                   help="use a shuffle join for the fetch (bucketed pages tables)")
    args = p.parse_args()

    from sitecheck_spark.crawl import CrawlConfig, crawl
    from sitecheck_spark.reports import write_reports
    from sitecheck_spark.sources.catalog import pages_sidecar_buckets

    spark = SparkSession.builder.appName("sitecheck-spark-crawl").getOrCreate()

    # Detect the bucketed layout through the Hadoop FS API so remote URIs
    # (s3a://, hdfs://) get the bucket-pruned fetch join too.
    n_buckets = pages_sidecar_buckets(spark, args.pages)
    pages = spark.read.parquet(args.pages)
    print(f"pages layout: "
          f"{'bucketed(n=%d), DPP fetch join' % n_buckets if n_buckets else 'plain parquet'}")
    dictionary = spark.read.parquet(args.dictionary) if args.dictionary else None
    cfg = CrawlConfig(
        budget_per_host=args.budget,
        max_waves=args.max_waves,
        max_depth=args.max_depth,
        n_shards=args.n_shards,
        pages_buckets=n_buckets,
        checkpoint_dir=args.checkpoint_dir,
        broadcast_fetch=not args.no_broadcast_fetch,
        verbose=True,
    )
    res = crawl(spark, pages, args.seeds, cfg, dictionary=dictionary)
    summary = write_reports(res, args.out)
    print(f"crawl finished: waves={res.waves} summary={summary}")
    spark.stop()


if __name__ == "__main__":
    main()
