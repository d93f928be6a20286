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

--pages is read as a parquet path, which carries no bucket spec, so every
wave's fetch broadcasts the elected urls into the pages scan and shuffles
the matched html once. The zero-html-shuffle fetch needs a bucketed pages
table (catalog.register_pages_bucketed_table) handed to crawl() directly.

PATH RESTRICTIONS: --pages and --checkpoint-dir may be any Spark-readable
URI (s3a://, hdfs://, file://) or a plain path, which resolves against
fs.defaultFS — the wave catalog runs its rename-commit protocol and its
reads through the Hadoop FileSystem API for every base (on raw S3 use a
consistent committer layer, as rename is copy-based there). --out must remain a LOCAL/POSIX path visible
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
    args = p.parse_args()

    from sitecheck_spark.crawl import CrawlConfig, crawl
    from sitecheck_spark.reports import write_reports

    spark = SparkSession.builder.appName("sitecheck-spark-crawl").getOrCreate()

    pages = spark.read.parquet(args.pages)
    dictionary = spark.read.parquet(args.dictionary) if args.dictionary else None
    cfg = CrawlConfig(
        budget_per_host=args.budget,
        max_waves=args.max_waves,
        max_depth=args.max_depth,
        n_shards=args.n_shards,
        checkpoint_dir=args.checkpoint_dir,
        verbose=True,
    )
    res = crawl(spark, pages, args.seeds, cfg, dictionary=dictionary)
    summary = write_reports(res, args.out)
    print(f"crawl finished: waves={res.waves} summary={summary}")
    spark.stop()


if __name__ == "__main__":
    main()
