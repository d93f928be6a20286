"""sitecheck_spark — a from-scratch PySpark-native web-crawl analytics engine.

Re-expresses the query/data-processing capabilities of the reference
spider-and-check pipeline (`arkershaw/sitecheck`, see SURVEY.md; the
reference snapshot at /root/reference was empty at build time, SURVEY.md §0)
as iterative DataFrame programs over a Common-Crawl-style `pages` table
(url, warc_ts, html, text, lang):

- the crawl frontier is a table; "fetching" is a join against the corpus
- link extraction + checker modules run in one vectorized mapInPandas pass
- "already seen" is an exact anti-join against the seen table on request
  identity (verb, url, post data)
- politeness is a per-netloc windowed budget with robots.txt gating
- host skew is defused with salted repartitioning on netloc
- every wave commits an atomic checkpoint (resume-exactly semantics)

Everything here derives from public knowledge only: the PySpark 4.x API and
the public behavior of the reference as described in SURVEY.md.
"""

__version__ = "0.1.0"
