"""Driver-contract query registry (SURVEY.md §2 "Driver check" column).

Every implemented operator gets a `queries()` entry — a (spark, sf_dir) ->
DataFrame callable — and, where ANSI-SQL-expressible, a DuckDB oracle twin
with IDENTICAL column names and compatible types. Patterns that keep the
value-hash comparison exact across engines:

- money sums go through decimal(18,2) then cast to double (order-independent
  exact arithmetic in both engines)
- md5 (not xxhash64) wherever the oracle must reproduce a hash
- single divisions of exact integer counts are IEEE-identical; avoid
  accumulated float sums in checked outputs
- DuckDB count(*)/row_number/sum(bigint) are cast to BIGINT/INT/BIGINT to
  match Spark's types

Non-SQL-expressible ops (xxhash64 identities, LSH over engine-specific
hashes, the crawl engine itself, approx sketches) register without an
oracle -> the driver records a rows-only check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sitecheck_spark.checkers import with_flesch
from sitecheck_spark.functions import textstats
from sitecheck_spark.operators import dedup, similarity

QUERIES: dict[str, dict] = {}


def query(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = {"fn": fn, "sql": sql}
        return fn

    return deco


# Hash-spread key per table: a unique-ish id column, so the spread exchange
# is deterministic HashPartitioning (no round-robin sort-before-repartition,
# retry-safe per the RR/rand hazard in SPARK-38388).
# The key doubles as the downstream join/window key where one dominates
# (events -> user_id, orders/customer -> custkey): a later window/agg/join
# partitioned on the same key then REUSES the spread exchange instead of
# adding one (guide §2.4 "two operations keyed the same way share one
# exchange").
_SPREAD_KEYS = {
    "documents": "doc_id", "embeddings": "vec_id", "events": "user_id",
    "orders": "o_custkey", "customer": "c_custkey", "lineitem": "l_orderkey",
    "part": "p_partkey", "supplier": "s_suppkey",
}
_SCAN_PARTS_CACHE: dict[str, int] = {}  # path -> scan split count (plan metadata)


def _t_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a benchmark table, restoring scan parallelism when the file
    layout caps it (guide §2.5 "input skew": a single-row-group parquet
    file cannot split, so every map-side stage — tokenize / hash / explode /
    partial agg — serializes on one or two tasks while the rest of the
    cluster idles). When the scan has fewer splits than half the cluster's
    parallelism, hash-repartition on the table's id column; a real at-scale
    table (thousands of splits) passes through untouched, so nothing is
    ever shuffled at 100 TB. The split count is plan metadata (no job) and
    is memoized per path — it cannot change within a session.
    Row-wise-cheap queries (plain hashes/lengths, pure scan predicates)
    read via _t_raw instead: for them the spread exchange costs more
    than the map-side CPU it parallelizes (measured q_dedup_exact
    0.28 -> 0.90 s at sf1.0), and q_sample_stratified's documented
    contract is the zero-shuffle scan predicate."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    target = spark.sparkContext.defaultParallelism
    n = _SCAN_PARTS_CACHE.get(path)
    if n is None:
        n = df.rdd.getNumPartitions()
        _SCAN_PARTS_CACHE[path] = n
    if n >= max(2, target // 2):
        return df
    key = _SPREAD_KEYS.get(name)
    # tables without a spread key (nation/region) are broadcast-sized
    # dimension tables — spreading them would only add a pointless exchange
    return df.repartition(target, key) if key else df


# ---------------------------------------------------------------------------
# §2.1 scans / §2.2 projections & predicates
# ---------------------------------------------------------------------------

@query(
    "q_scan_pages",
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS total_chars
       FROM documents GROUP BY source""",
)
def q_scan_pages(spark, sf_dir):
    return (
        _t_raw(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


@query(
    "q_filter_ext",
    """SELECT doc_id, source, lang FROM documents
       WHERE regexp_matches(source, '^src[13]$') AND lang = 'en'""",
)
def q_filter_ext(spark, sf_dir):
    return (
        _t_raw(spark, sf_dir, "documents")
        .filter(F.col("source").rlike("^src[13]$") & (F.col("lang") == "en"))
        .select("doc_id", "source", "lang")
    )


@query(
    "q_parse_host",
    """SELECT doc_id, source || '.example.com' AS netloc FROM documents""",
)
def q_parse_host(spark, sf_dir):
    docs = _t_raw(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
                   F.col("doc_id"))
    return docs.select("doc_id", F.parse_url(url, F.lit("HOST")).alias("netloc"))


@query("q_hash_urls")  # xxhash64 has no DuckDB twin -> rows-only
def q_hash_urls(spark, sf_dir):
    docs = _t_raw(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
                   F.col("doc_id"))
    return docs.select(
        "doc_id", F.xxhash64(url).alias("url_hash"),
        F.pmod(F.xxhash64(url), F.lit(32)).cast("int").alias("shard"),
    )


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------

@query(
    "q_join_orders_customer",
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
              CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       FROM orders JOIN customer ON o_custkey = c_custkey
       GROUP BY c_mktsegment""",
)
def q_join_orders_customer(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").alias("revenue"),
        )
    )


@query(
    "q_anti_join",
    """SELECT c_custkey, c_name FROM customer
       WHERE NOT EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey AND o_totalprice > 400000)""",
)
def q_anti_join(spark, sf_dir):
    """J2: the seen-set anti-join shape (candidates minus seen)."""
    customer = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return customer.join(
        big, customer.c_custkey == big.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "q_semi_join",
    """SELECT c_custkey, c_name FROM customer
       WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
)
def q_semi_join(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "q_broadcast_nation",
    """SELECT r_name, CAST(count(*) AS BIGINT) AS n_customers,
              min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal
       FROM customer JOIN nation ON c_nationkey = n_nationkey
                     JOIN region ON n_regionkey = r_regionkey
       GROUP BY r_name""",
)
def q_broadcast_nation(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
        )
    )


# ---------------------------------------------------------------------------
# §2.5 windows / sorts / limits (politeness W1, as-of W3, cap W4)
# ---------------------------------------------------------------------------

@query(
    "q_topk_per_group",
    """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INT) AS rk FROM (
         SELECT o_custkey, o_orderkey, o_totalprice,
                row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rk
         FROM orders) WHERE rk <= 3""",
)
def q_topk_per_group(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


@query(
    "q_politeness_budget",
    """SELECT doc_id, source, CAST(rk AS INT) AS rk FROM (
         SELECT doc_id, source,
                row_number() OVER (PARTITION BY source
                                   ORDER BY n_chars DESC, doc_id) AS rk
         FROM documents) WHERE rk <= 5""",
)
def q_politeness_budget(spark, sf_dir):
    docs = _t_raw(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "source", "rk")
    )


@query(
    "q_latest_event_per_user",
    """SELECT user_id, event_id, ts, event_type FROM (
         SELECT user_id, event_id, ts, event_type,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rk
         FROM events) WHERE rk = 1""",
)
def q_latest_event_per_user(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "event_id", "ts", "event_type")
    )


@query(
    "q_limit",
    """SELECT o_orderkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
)
def q_limit(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# §2.6 set operations
# ---------------------------------------------------------------------------

@query(
    "q_union_distinct",
    """SELECT DISTINCT id FROM (
         SELECT o_custkey AS id FROM orders
         UNION ALL SELECT user_id AS id FROM events)""",
)
def q_union_distinct(spark, sf_dir):
    a = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("id"))
    b = _t(spark, sf_dir, "events").select(F.col("user_id").alias("id"))
    return a.union(b).distinct()


@query(
    "q_except",
    """SELECT c_custkey AS id FROM customer
       EXCEPT SELECT o_custkey AS id FROM orders WHERE o_totalprice > 400000""",
)
def q_except(spark, sf_dir):
    a = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("id"))
    b = (_t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
         .select(F.col("o_custkey").alias("id")))
    # subtract = true EXCEPT DISTINCT. exceptAll().distinct() is NOT: when
    # `a` holds duplicates of a value also in `b`, exceptAll subtracts
    # counts and distinct resurrects the value (tests/test_operators.py).
    return a.subtract(b)


@query(
    "q_intersect",
    """SELECT c_custkey AS id FROM customer
       INTERSECT SELECT user_id AS id FROM events""",
)
def q_intersect(spark, sf_dir):
    a = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("id"))
    b = _t(spark, sf_dir, "events").select(F.col("user_id").alias("id"))
    return a.intersect(b)


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------

@query(
    "q_status_counts",
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n
       FROM events GROUP BY event_type""",
)
def q_status_counts(spark, sf_dir):
    return _t(spark, sf_dir, "events").groupBy("event_type").agg(F.count("*").alias("n"))


@query(
    "q_rollup_metrics",
    """SELECT coalesce(event_type, 'ALL') AS event_type,
              coalesce(user_id % 10, -1) AS user_bucket,
              CAST(count(*) AS BIGINT) AS n
       FROM events GROUP BY CUBE (event_type, user_id % 10)""",
)
def q_rollup_metrics(spark, sf_dir):
    events = _t(spark, sf_dir, "events").withColumn(
        "user_bucket", F.col("user_id") % 10
    )
    return (
        events.cube("event_type", "user_bucket")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("user_bucket", F.lit(-1)).alias("user_bucket"),
            "n",
        )
    )


@query(
    "q_dup_content",
    """SELECT md5(substr(text, 1, 20)) AS fingerprint,
              CAST(min(doc_id) AS BIGINT) AS keeper,
              CAST(count(*) AS BIGINT) AS n_copies
       FROM documents GROUP BY md5(substr(text, 1, 20)) HAVING count(*) > 1""",
)
def q_dup_content(spark, sf_dir):
    return (
        _t_raw(spark, sf_dir, "documents")
        .groupBy(F.md5(F.substring("text", 1, 20)).alias("fingerprint"))
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


@query("q_approx_distinct")  # sketch values differ across engines -> rows-only
def q_approx_distinct(spark, sf_dir):
    """HLL++ sketches differ across engines; the estimate is bounded vs the
    exact distinct count (±5%) in pytest — tests/test_operators.py::
    test_approx_distinct_within_5pct."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey").alias("approx_parts"))
    )


# ---------------------------------------------------------------------------
# §2.9 streaming-equivalent batch checks + as-of join
# ---------------------------------------------------------------------------

@query(
    "q_session_windows",
    """WITH o AS (
         SELECT user_id, ts,
                CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
         FROM events),
       s AS (
         SELECT user_id, ts,
                sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
         FROM o)
       SELECT user_id, min(ts) AS session_start, CAST(count(*) AS BIGINT) AS n_events
       FROM s GROUP BY user_id, sid""",
)
def q_session_windows(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


@query(
    "q_asof_join",
    """WITH o1 AS (
         SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
         FROM orders GROUP BY o_custkey, o_orderdate)
       SELECT e.event_id, e.user_id, o.o_orderkey AS last_order_key,
              o.o_orderdate AS last_order_date
       FROM events e ASOF JOIN o1 o
         ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts""",
)
def q_asof_join(spark, sf_dir):
    """As-of join (latest order at-or-before each event) via the
    union+window trick: one sort-shuffle, no range explosion — the
    scalable pattern (SURVEY.md §2.3 J6). Orders are pre-reduced to one
    row per (custkey, orderdate) so the as-of pick is tie-free."""
    orders = _t(spark, sf_dir, "orders")
    events = _t(spark, sf_dir, "events")
    o1 = orders.groupBy("o_custkey", "o_orderdate").agg(
        F.max("o_orderkey").alias("o_orderkey")
    )
    od = o1.select(
        F.col("o_custkey").alias("uid"), F.col("o_orderdate").alias("t"),
        "o_orderkey", F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("tag"),
    )
    ev = events.select(
        F.col("user_id").alias("uid"), F.col("ts").alias("t"),
        F.lit(None).cast("long").alias("o_orderkey"), "event_id",
        F.lit(1).alias("tag"),
    )
    un = od.unionByName(ev)
    w = (
        Window.partitionBy("uid")
        .orderBy("t", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        un.withColumn("last_order_key", F.last("o_orderkey", ignorenulls=True).over(w))
        .withColumn("last_order_date",
                    F.last(F.when(F.col("tag") == 0, F.col("t")),
                           ignorenulls=True).over(w))
        .filter((F.col("tag") == 1) & F.col("last_order_key").isNotNull())
        .select("event_id", F.col("uid").alias("user_id"),
                "last_order_key", "last_order_date")
    )


# ---------------------------------------------------------------------------
# crawl-shaped oracle checks: broken links (C1/J2) + BFS frontier expansion
# ---------------------------------------------------------------------------

@query(
    "q_broken_links",
    """SELECT doc_id AS src_doc, doc_id * 2 AS target FROM documents d
       WHERE NOT EXISTS (SELECT 1 FROM documents d2 WHERE d2.doc_id = d.doc_id * 2)""",
)
def q_broken_links(spark, sf_dir):
    docs = _t_raw(spark, sf_dir, "documents")
    links = docs.select(
        F.col("doc_id").alias("src_doc"), (F.col("doc_id") * 2).alias("target")
    )
    targets = docs.select(F.col("doc_id").alias("target"))
    return links.join(targets, "target", "left_anti").select("src_doc", "target")


@query(
    "q_crawl_bfs",
    """WITH RECURSIVE e AS (
         SELECT doc_id AS src, (doc_id * 2 + 1) % (SELECT count(*) FROM documents) AS dst
         FROM documents
         UNION ALL
         SELECT doc_id, (doc_id * 7 + 3) % (SELECT count(*) FROM documents)
         FROM documents),
       r(node, depth) AS (
         SELECT CAST(x AS BIGINT), 0 FROM (VALUES (0), (1), (2)) v(x)
         UNION ALL
         SELECT e.dst, r.depth + 1 FROM r JOIN e ON e.src = r.node
         WHERE r.depth < 4)
       SELECT node, CAST(min(depth) AS INT) AS depth FROM r GROUP BY node""",
)
def q_crawl_bfs(spark, sf_dir):
    """Mini BFS frontier expansion (the crawl loop shape) over a synthetic
    doc graph; iterative anti-join dedup exactly like crawl.py."""
    docs = _t_raw(spark, sf_dir, "documents")
    n = _t_raw(spark, sf_dir, "documents").count()
    edges = docs.select(
        F.col("doc_id").alias("src"), ((F.col("doc_id") * 2 + 1) % n).alias("dst")
    ).unionByName(
        docs.select(
            F.col("doc_id").alias("src"), ((F.col("doc_id") * 7 + 3) % n).alias("dst")
        )
    )
    spark_ = docs.sparkSession
    visited = spark_.createDataFrame(
        [(0, 0), (1, 0), (2, 0)], "node long, depth int"
    )
    frontier = visited.select("node")
    for d in range(1, 5):
        nxt = (
            frontier.join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("depth", F.lit(d))
        )
        nxt = nxt.localCheckpoint(eager=True)
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("node")
    return visited


def _pagerank_sql(iterations: int = 5) -> str:
    """Unrolled fixed-point PageRank oracle (see operators/graph.py for the
    integer-arithmetic determinism contract)."""
    parts = [
        """e AS (
         SELECT doc_id AS src,
                (doc_id * 2 + 1) % (SELECT count(*) FROM documents) AS dst
         FROM documents
         UNION ALL
         SELECT doc_id, (doc_id * 7 + 3) % (SELECT count(*) FROM documents)
         FROM documents)""",
        "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src)",
        "r0 AS (SELECT doc_id AS node, CAST(1000000000000 AS BIGINT) AS pr FROM documents)",
    ]
    for k in range(1, iterations + 1):
        parts.append(f"""r{k} AS (
         SELECT n.node,
                CAST(150000000000
                     + 85 * (COALESCE(c.s, 0) // 100)
                     + (85 * (COALESCE(c.s, 0) % 100)) // 100 AS BIGINT) AS pr
         FROM r{k - 1} n LEFT JOIN (
           SELECT e.dst AS node, SUM(r.pr // d.outdeg) AS s
           FROM e JOIN r{k - 1} r ON r.node = e.src JOIN deg d ON d.src = e.src
           GROUP BY e.dst) c USING (node))""")
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT node, pr FROM r{iterations}")


@query("q_pagerank", _pagerank_sql(5))
def q_pagerank(spark, sf_dir):
    """Crawl-priority signal: 5 damped power-iteration steps over the same
    synthetic doc graph as q_crawl_bfs. BIGINT fixed-point arithmetic (units
    of 1e-12, integer division) so the per-node ranks are bit-identical
    across engines — no float-sum ordering hazard."""
    from sitecheck_spark.operators.graph import pagerank

    docs = _t_raw(spark, sf_dir, "documents")
    n = _t_raw(spark, sf_dir, "documents").count()
    nodes = docs.select(F.col("doc_id").alias("node"))
    edges = docs.select(
        F.col("doc_id").alias("src"), ((F.col("doc_id") * 2 + 1) % n).alias("dst")
    ).unionByName(
        docs.select(
            F.col("doc_id").alias("src"), ((F.col("doc_id") * 7 + 3) % n).alias("dst")
        )
    )
    return pagerank(nodes, edges, iterations=5, n_nodes=n)


_CC_SQL = """
WITH RECURSIVE
  d AS (SELECT doc_id FROM documents),
  nn AS (SELECT count(*) AS n FROM d),
  e AS (
    SELECT doc_id AS src, doc_id + 1 AS dst FROM d, nn
    WHERE doc_id % 16 <> 15 AND doc_id + 1 < n
    UNION ALL
    SELECT doc_id AS src, doc_id + 16 AS dst FROM d, nn
    WHERE doc_id % 32 = 0 AND doc_id + 16 < n
  ),
  und AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
  reach(node, m) AS (
    SELECT doc_id AS node, doc_id AS m FROM d
    UNION
    SELECT r.node, u.dst AS m FROM reach r JOIN und u ON u.src = r.m
  )
SELECT node, CAST(min(m) AS BIGINT) AS component
FROM reach GROUP BY node
"""


@query("q_connected_components", _CC_SQL)
def q_connected_components(spark, sf_dir):
    """Component id (= min reachable doc_id) per node over a deterministic
    undirected doc graph: chains inside 16-id blocks plus a bridge merging
    each even block into the next — mirror-cluster discovery on a web
    graph. Engine side is HashMin + pointer jumping (O(log n) rounds of
    keyed shuffles, operators/graph.py); the oracle is the brute-force
    transitive closure as a DuckDB recursive CTE — path-independent min
    labels make the two bit-comparable."""
    from sitecheck_spark.operators.graph import connected_components

    docs = _t_raw(spark, sf_dir, "documents")
    n = _t_raw(spark, sf_dir, "documents").count()
    nodes = docs.select(F.col("doc_id").alias("node"))
    chain = docs.select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst")
    ).where((F.col("src") % 16 != 15) & (F.col("dst") < n))
    bridge = docs.select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 16).alias("dst")
    ).where((F.col("src") % 32 == 0) & (F.col("dst") < n))
    # chain ∪ bridge is duplicate-free by construction: dst-src is 1 vs 16,
    # and all edges have dst > src so symmetrization cannot collide either
    return connected_components(
        nodes, chain.unionByName(bridge), edges_unique=True, n_nodes=n
    )


@query(
    "q_heavy_hitters",
    """WITH toks AS (
         SELECT DISTINCT doc_id,
                unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
         FROM documents),
       f AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM toks GROUP BY token)
       SELECT token, df, CAST(rk AS INT) AS rk FROM (
         SELECT token, df, row_number() OVER (ORDER BY df DESC, token) AS rk
         FROM f) WHERE rk <= 50""",
)
def q_heavy_hitters(spark, sf_dir):
    """Global top-50 tokens by document frequency. orderBy+limit plans as
    TakeOrderedAndProject (per-partition partial top-k, tiny driver merge)
    — the scale-right global top-k; the window rank runs on 50 rows only."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0))
        )).alias("token"),
    )
    f = toks.groupBy("token").agg(F.count("*").alias("df"))
    top = f.orderBy(F.desc("df"), "token").limit(50)
    w = Window.orderBy(F.desc("df"), "token")
    return top.withColumn("rk", F.row_number().over(w))


# ---------------------------------------------------------------------------
# §2.7 checker-module scalar functions over documents/events
# ---------------------------------------------------------------------------

@query(
    "q_redirect_chains",
    """WITH RECURSIVE e AS (
         SELECT doc_id AS src,
                (doc_id * 7 + 3) % (SELECT count(*) FROM documents) AS dst
         FROM documents WHERE doc_id % 5 = 0),
       walk(src, cur, hops) AS (
         SELECT src, dst, 1 FROM e
         UNION ALL
         SELECT w.src, e2.dst, w.hops + 1
         FROM walk w JOIN e e2 ON e2.src = w.cur WHERE w.hops < 4),
       last AS (
         SELECT src, cur, hops,
                row_number() OVER (PARTITION BY src ORDER BY hops DESC) AS rk
         FROM walk)
       SELECT l.src, l.cur AS final, CAST(l.hops AS INT) AS hops,
              EXISTS(SELECT 1 FROM e WHERE e.src = l.cur) AS capped
       FROM last l WHERE rk = 1""",
)
def q_redirect_chains(spark, sf_dir):
    """Redirect-chain resolution (graph.resolve_redirect_chains) over a
    synthetic functional edge table: every 5th doc redirects to
    (id*7+3) mod n. Hop cap 4; capped chains (incl. cycles) flagged."""
    docs = _t_raw(spark, sf_dir, "documents")
    n = _t_raw(spark, sf_dir, "documents").count()
    edges = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * 7 + 3) % n).alias("dst"),
    )
    from sitecheck_spark.operators.graph import resolve_redirect_chains

    return resolve_redirect_chains(edges, max_hops=4)


@query(
    "q_regex_extract",
    """SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+er')) AS match
       FROM documents""",
)
def q_regex_extract(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+er"), F.lit(0))
        ).alias("match"),
    )


@query(
    "q_misspelled_words",
    """WITH vocab AS (
         SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
         FROM documents WHERE source = 'src0' AND doc_id < 10),
       toks AS (
         SELECT DISTINCT doc_id,
                unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
         FROM documents WHERE source = 'src1')
       SELECT doc_id, word FROM toks
       WHERE word NOT IN (SELECT word FROM vocab)""",
)
def q_misspelled_words(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    toks = lambda df: F.explode(
        F.array_distinct(F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), F.lit(0)))
    ).alias("word")
    vocab = docs.filter((F.col("source") == "src0") & (F.col("doc_id") < 10)).select(toks(docs)).distinct()
    words = docs.filter(F.col("source") == "src1").select("doc_id", toks(docs)).distinct()
    return words.join(F.broadcast(vocab), "word", "left_anti").select("doc_id", "word")


@query(
    "q_comments",
    """SELECT event_id, props FROM events
       WHERE regexp_matches(props, '"k": 8[0-9]')""",
)
def q_comments(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("props").rlike('"k": 8[0-9]'))
        .select("event_id", "props")
    )


@query(
    "q_json_props",
    """SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
              CAST(count(*) AS BIGINT) AS n
       FROM events GROUP BY 1""",
)
def q_json_props(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .withColumn("k_bucket", F.get_json_object("props", "$.k").cast("long") % 10)
        .groupBy("k_bucket")
        .agg(F.count("*").alias("n"))
    )


@query(
    "q_meta_lengths",
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(length(text)) AS BIGINT) AS total_chars,
              CAST(sum(length(text)) AS DOUBLE) / count(*) AS avg_chars
       FROM documents GROUP BY lang""",
)
def q_meta_lengths(spark, sf_dir):
    return (
        _t_raw(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
            (F.sum(F.length("text")).cast("double") / F.count("*")).alias("avg_chars"),
        )
    )


@query(
    "q_readability",
    """SELECT doc_id,
              CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS INT) AS n_words,
              CAST(greatest(1, len(regexp_extract_all(text, '[.!?]'))) AS INT) AS n_sentences,
              206.835
                - 1.015 * (CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS DOUBLE)
                           / greatest(1, len(regexp_extract_all(text, '[.!?]'))))
                - 84.6 * (CAST(list_sum(list_transform(
                              regexp_extract_all(lower(text), '[a-z]+'),
                              w -> greatest(1, len(regexp_extract_all(w, '[aeiouy]+')))))
                           AS DOUBLE)
                          / len(regexp_extract_all(lower(text), '[a-z]+')))
                AS flesch
       FROM documents
       WHERE len(regexp_extract_all(lower(text), '[a-z]+')) > 0""",
)
def q_readability(spark, sf_dir):
    return (
        with_flesch(_t(spark, sf_dir, "documents"), "text")
        .filter("n_words > 0")
        .select("doc_id", "n_words", "n_sentences", "flesch")
    )


# ---------------------------------------------------------------------------
# training-pipeline text analysis
# ---------------------------------------------------------------------------

_STOP_LIST_SQL = {
    "en": "['the','and','of','to','a']",
    "de": "['der','die','und','das']",
    "fr": "['le','la','les','et']",
}

_LANG_VOTES_SQL = """
  SELECT doc_id, lang,
         len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
             t -> list_contains({en}, t))) AS en_v,
         len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
             t -> list_contains({de}, t))) AS de_v,
         len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
             t -> list_contains({fr}, t))) AS fr_v
  FROM documents
""".format(en=_STOP_LIST_SQL["en"], de=_STOP_LIST_SQL["de"], fr=_STOP_LIST_SQL["fr"])


@query(
    "q_lang_id",
    f"""WITH v AS ({_LANG_VOTES_SQL})
       SELECT doc_id, lang,
              CASE WHEN en_v >= de_v AND en_v >= fr_v AND en_v > 0 THEN 'en'
                   WHEN de_v >= fr_v AND de_v > 0 THEN 'de'
                   WHEN fr_v > 0 THEN 'fr'
                   ELSE 'und' END AS pred_lang
       FROM v""",
)
def q_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return textstats.lang_id(docs).select("doc_id", "lang", "pred_lang")


@query(
    "q_quality_score",
    """SELECT doc_id,
              CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS INT) AS n_words,
              CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS INT) AS n_punct,
              CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
                   t -> list_contains(['the','and','of','to','a'], t))) AS INT) AS n_stopwords,
              CASE WHEN len(regexp_extract_all(lower(text), '[a-z]+')) > 0 THEN
                CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
                     t -> list_contains(['the','and','of','to','a'], t))) AS DOUBLE)
                / len(regexp_extract_all(lower(text), '[a-z]+')) END AS stopword_ratio,
              CASE WHEN len(regexp_extract_all(lower(text), '[a-z]+')) > 0 THEN
                CAST(list_sum(list_transform(regexp_extract_all(lower(text), '[a-z]+'),
                     w -> length(w))) AS DOUBLE)
                / len(regexp_extract_all(lower(text), '[a-z]+')) END AS avg_word_len
       FROM documents""",
)
def q_quality_score(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return textstats.quality_features(docs).select(
        "doc_id", "n_words", "n_punct", "n_stopwords", "stopword_ratio", "avg_word_len"
    )


@query(
    "q_token_count",
    f"""SELECT lang,
              CAST(sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
                AS total_ws_tokens,
              CAST(sum(len(regexp_extract_all(text, '{textstats.BPE_RE}'))) AS BIGINT)
                AS total_bpe_tokens
       FROM documents GROUP BY lang""",
)
def q_token_count(spark, sf_dir):
    docs = textstats.token_counts(_t(spark, sf_dir, "documents"))
    return docs.groupBy("lang").agg(
        F.sum("n_ws_tokens").alias("total_ws_tokens"),
        F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
    )


@query(
    "q_fingerprint",
    """SELECT doc_id,
              md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
       FROM documents""",
)
def q_fingerprint(spark, sf_dir):
    return textstats.fingerprint(_t_raw(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint"
    )


_REPETITION_SQL = """
WITH d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS w FROM documents
),
wc AS (
  SELECT doc_id, tok, count(*) AS cnt
  FROM (SELECT doc_id, unnest(w) AS tok FROM d) GROUP BY 1, 2
),
words AS (
  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
         count(*) AS n_distinct FROM wc GROUP BY 1
),
wtop AS (
  SELECT doc_id, tok AS top_word FROM (
    SELECT doc_id, tok,
           row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, tok) AS rn
    FROM wc) WHERE rn = 1
),
bgc AS (
  SELECT doc_id, tok, count(*) AS cnt FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(w)),
                                 i -> w[i] || ' ' || w[i+1])) AS tok
    FROM d) GROUP BY 1, 2
),
bsum AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams
         FROM bgc GROUP BY 1),
btop AS (
  SELECT doc_id, tok AS top_bigram, cnt AS bcnt FROM (
    SELECT doc_id, tok, cnt,
           row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, tok) AS rn
    FROM bgc) WHERE rn = 1
),
wcnt AS (
  SELECT w.doc_id, w.n_words, w.n_distinct, t.top_word, c.cnt AS wcnt
  FROM words w JOIN wtop t USING (doc_id)
  JOIN wc c ON c.doc_id = w.doc_id AND c.tok = t.top_word
)
SELECT base.doc_id,
       COALESCE(wcnt.n_words, 0) AS n_words,
       COALESCE(wcnt.n_distinct, 0) AS n_distinct,
       CASE WHEN wcnt.n_words > 0
            THEN 1.0 - CAST(wcnt.n_distinct AS DOUBLE)
                       / CAST(wcnt.n_words AS DOUBLE) END AS dup_word_ratio,
       wcnt.top_word,
       CASE WHEN wcnt.n_words > 0
            THEN CAST(wcnt.wcnt AS DOUBLE)
                 / CAST(wcnt.n_words AS DOUBLE) END AS top_word_ratio,
       btop.top_bigram,
       CAST(btop.bcnt AS DOUBLE) / CAST(bsum.n_bigrams AS DOUBLE)
         AS top_bigram_ratio,
       (COALESCE(wcnt.n_words, 0) >= 10 AND COALESCE(wcnt.n_words, 0) <= 100000
        AND CAST(wcnt.wcnt AS DOUBLE) / CAST(wcnt.n_words AS DOUBLE) <= 0.20
        AND CAST(btop.bcnt AS DOUBLE) / CAST(bsum.n_bigrams AS DOUBLE) <= 0.18)
         AS keep
FROM (SELECT doc_id FROM documents) base
LEFT JOIN wcnt USING (doc_id)
LEFT JOIN btop USING (doc_id)
LEFT JOIN bsum USING (doc_id)
"""


@query("q_repetition_quality", _REPETITION_SQL)
def q_repetition_quality(spark, sf_dir):
    """Gopher/C4-style repetition quality gate (functions/textstats.
    repetition_features): duplicate-word / top-word / top-bigram ratios
    with a total-order argmax tie-break and the keep verdict — the
    standard pre-training boilerplate filter, oracle-checked bit-for-bit
    (exact integer-count ratios)."""
    return textstats.repetition_features(_t(spark, sf_dir, "documents"))


_DIFF_SPLIT = "2024-01-16"

_SNAPSHOT_DIFF_SQL = f"""
WITH old_snap AS (
  SELECT user_id, value AS old_value FROM (
    SELECT user_id, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE ts < TIMESTAMP '{_DIFF_SPLIT}') WHERE rn = 1
),
new_snap AS (
  SELECT user_id, value AS new_value FROM (
    SELECT user_id, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events) WHERE rn = 1
)
SELECT COALESCE(o.user_id, n.user_id) AS user_id,
       CASE WHEN o.user_id IS NULL THEN 'added'
            WHEN n.user_id IS NULL THEN 'removed'
            WHEN o.old_value IS DISTINCT FROM n.new_value THEN 'changed'
       END AS change,
       o.old_value, n.new_value
FROM old_snap o FULL OUTER JOIN new_snap n USING (user_id)
WHERE (CASE WHEN o.user_id IS NULL THEN 'added'
            WHEN n.user_id IS NULL THEN 'removed'
            WHEN o.old_value IS DISTINCT FROM n.new_value THEN 'changed'
       END) IS NOT NULL
"""


@query("q_snapshot_diff", _SNAPSHOT_DIFF_SQL)
def q_snapshot_diff(spark, sf_dir):
    """Incremental-recrawl diff (operators/diff.snapshot_diff): the as-of
    state per user at mid-month vs now, classified added/changed (removed
    cannot occur here — the old snapshot is a prefix of the new). The
    as-of pick is one max_by partial agg with the total (ts, event_id)
    tie-break (same shape as latest_pages, crawl.py:148); the diff is one
    full-outer join keyed on user_id."""
    from sitecheck_spark.operators.diff import snapshot_diff

    ev = _t(spark, sf_dir, "events")

    def as_of(df):
        return df.groupBy("user_id").agg(
            F.max_by("value", F.struct("ts", "event_id")).alias("value")
        )

    old = as_of(ev.filter(F.col("ts") < F.lit(_DIFF_SPLIT).cast("timestamp")))
    new = as_of(ev)
    return snapshot_diff(old, new, ["user_id"], "value")


_SAMPLE_SQL = """
SELECT doc_id, lang, source
FROM documents
WHERE ((doc_id * 2654435761) % 4294967296) % 100 <
      (CASE lang WHEN 'en' THEN 30 WHEN 'de' THEN 60 WHEN 'fr' THEN 100
                 ELSE 10 END)
"""


_PACK_SQL = """
WITH t AS (
  SELECT doc_id % 4 AS stream, doc_id AS ord,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n
  FROM documents
),
c AS (
  SELECT stream, ord, n,
         CAST(sum(n) OVER (PARTITION BY stream ORDER BY ord
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e
  FROM t
),
s AS (SELECT stream, ord, n, e - n AS st, e FROM c WHERE n > 0)
SELECT stream, ord AS "order", bin,
       greatest(st, bin * 128) - st AS doc_tok_start,
       least(e, bin * 128 + 128) - st AS doc_tok_end,
       greatest(st, bin * 128) - bin * 128 AS bin_tok_start
FROM s, unnest(generate_series(st // 128, (e - 1) // 128)) AS u(bin)
"""


@query("q_pack_sequences", _PACK_SQL)
def q_pack_sequences(spark, sf_dir):
    """Training-example packing (operators/packing.pack_sequences):
    concatenate each stream's documents in doc_id order and chunk the
    token stream into 128-token bins — offset arithmetic over one window
    cumsum, no sequential state. Streams = doc_id % 4 so the window
    parallelizes; oracle reproduces the spans exactly (integer
    arithmetic)."""
    from sitecheck_spark.operators.packing import pack_sequences

    docs = textstats.token_counts(_t(spark, sf_dir, "documents"))
    d = docs.select(
        (F.col("doc_id") % 4).alias("stream"),
        F.col("doc_id").alias("ord"),
        F.col("n_ws_tokens"),
    )
    return pack_sequences(d, "stream", "ord", "n_ws_tokens", 128)


@query("q_sample_stratified", _SAMPLE_SQL)
def q_sample_stratified(spark, sf_dir):
    """Deterministic stratified sample (operators/sampling): per-language
    keep rates (en 30%, de 60%, fr 100%, others 10%) via the
    Knuth-multiplicative key bucket — a pure scan-level predicate (no
    shuffle, no RNG), bit-stable across reruns/engines; production swaps
    the mixer for xxhash64 with the same predicate shape."""
    from sitecheck_spark.operators.sampling import stratified_sample

    docs = _t_raw(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return stratified_sample(
        docs, "lang", {"en": 30, "de": 60, "fr": 100}, "doc_id",
        default_rate=10,
    )


# ---------------------------------------------------------------------------
# multimodal binary plumbing
# ---------------------------------------------------------------------------
# (Registered BEFORE the dedup/ANN/graph tier deliberately: the driver's
# correctness harness runs queries in registration order under a time
# budget, and in round 6 it truncated at the tail, leaving these two —
# trivial projections — unverified. Cheap queries come first so a
# truncation can only ever starve the expensive tail, whose engine
# coverage entry() duplicates.)

@query(
    "q_multimodal_meta",
    """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
              substr(hex(encode(text)), 1, 8) AS magic_hex
       FROM documents""",
)
def q_multimodal_meta(spark, sf_dir):
    docs = _t_raw(spark, sf_dir, "documents").withColumn(
        "payload", F.encode("text", "utf-8")
    )
    from sitecheck_spark.multimodal import binary_metadata

    return binary_metadata(docs, "payload", "doc_id")


@query("q_multimodal_features")  # Pandas-UDF decode plumbing -> rows-only
def q_multimodal_features(spark, sf_dir):
    from sitecheck_spark.multimodal import extract_image_features

    media = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload")
    )
    return extract_image_features(media)


# ---------------------------------------------------------------------------
# training-pipeline dedup
# ---------------------------------------------------------------------------

@query(
    "q_dedup_exact",
    """SELECT md5(text) AS fingerprint, CAST(min(doc_id) AS BIGINT) AS doc_id,
              CAST(count(*) AS BIGINT) AS n_copies
       FROM documents GROUP BY md5(text)""",
)
def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_t_raw(spark, sf_dir, "documents"))


@query(
    "q_dedup_jaccard",
    """WITH toks0 AS (
         SELECT DISTINCT doc_id,
                unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
         FROM documents),
       maxf AS (SELECT least(1000, count(*) // 2) AS k FROM documents),
       toks AS (
         SELECT doc_id, token FROM toks0
         WHERE token IN (SELECT token FROM toks0 GROUP BY token
                         HAVING count(*) <= (SELECT k FROM maxf))),
       sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
       pair AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
         FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT doc_a, doc_b, CAST(n_common AS BIGINT) AS inter,
              CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
              CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jaccard
       FROM pair JOIN sizes sa ON sa.doc_id = doc_a
                 JOIN sizes sb ON sb.doc_id = doc_b
       WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.5""",
)
def q_dedup_jaccard(spark, sf_dir):
    """Token-set Jaccard WITH the stop-token guard engaged: tokens present
    in more than min(1000, n_docs/2) docs are pruned before the self-join.
    A token of document-frequency f contributes f^2 join rows — without the
    cap, one ubiquitous token ('the') makes the join quadratic in corpus
    size. min(1000, ...) keeps the absolute bound that matters at 10^10
    docs while staying adaptive at test scale. Jaccard is then computed
    over the pruned token space (oracle applies the identical rule)."""
    docs = _t(spark, sf_dir, "documents")
    k = min(1000, _t_raw(spark, sf_dir, "documents").count() // 2)
    return dedup.jaccard_pairs(docs, threshold=0.5, max_token_freq=k)


@query(
    "q_dedup_minhash_lsh",
    """WITH w AS (
         SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t
         FROM documents),
       toks AS (
         SELECT DISTINCT doc_id,
                unnest(list_transform(
                    generate_series(1, greatest(0, len(t) - 2)),
                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS token
         FROM w),
       sigs AS (
         SELECT doc_id, seed,
                min(substr(md5('0:' || token) || md5('1:' || token),
                           CAST(1 + 8 * seed AS INT), 8)) AS sig
         FROM toks, range(8) r(seed) GROUP BY doc_id, seed),
       bands AS (
         SELECT doc_id, seed // 2 AS band,
                string_agg(seed || '=' || sig, '|' ORDER BY seed || '=' || sig)
                  AS bucket
         FROM sigs GROUP BY doc_id, seed // 2)
       SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       FROM bands a JOIN bands b
         ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id""",
)
def q_dedup_minhash_lsh(spark, sf_dir):
    return dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"))


@query("q_dedup_simhash")  # xxhash64-based -> rows-only
def q_dedup_simhash(spark, sf_dir):
    """No DuckDB twin (xxhash64); exactness pinned in pytest instead: the
    operator equals a from-first-principles recomputation (same-band pairs
    filtered by exact hamming) — tests/test_operators.py::
    test_simhash_near_pairs_exactness."""
    return dedup.simhash_near_pairs(_t(spark, sf_dir, "documents"), max_hamming=8)


@query("q_dedup_embedding")  # FP-threshold on engine-specific LSH -> rows-only
def q_dedup_embedding(spark, sf_dir):
    """No DuckDB twin; bounded in pytest instead: output is a SUBSET of the
    exact all-pairs cosine>=threshold set (cosine is recomputed in-operator,
    so bucketing can only lose pairs, never invent them) with recall >= 0.7
    over planted dups — tests/test_operators.py::test_embedding_near_dup_recall."""
    return similarity.embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.35
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

@query(
    "q_vec_norm",
    """SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
              list_max(embedding) AS max_val, label
       FROM embeddings""",
)
def q_vec_norm(spark, sf_dir):
    emb = _t_raw(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", F.size("embedding").alias("dim"),
        F.array_max("embedding").alias("max_val"), "label",
    )


@query(
    "q_ann_cosine",
    """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
                  WHERE vec_id < 10),
       scored AS (
         SELECT q.qid AS query_id, e.vec_id AS neighbor_id,
                list_cosine_similarity(CAST(q.qe AS DOUBLE[]),
                                       CAST(e.embedding AS DOUBLE[])) AS cs
         FROM q, embeddings e WHERE e.vec_id <> q.qid),
       r AS (SELECT query_id, neighbor_id,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY cs DESC, neighbor_id) AS rk
             FROM scored)
       SELECT query_id, neighbor_id, CAST(rk AS INT) AS rank
       FROM r WHERE rk <= 3""",
)
def q_ann_cosine(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return similarity.brute_force_topk(emb, queries_df, k=3).select(
        "query_id", "neighbor_id", "rank"
    )


@query("q_ann_lsh")  # sin()-ulp sign risk across engines -> rows-only
def q_ann_lsh(spark, sf_dir):
    """No DuckDB twin; recall vs the oracle-checked brute-force baseline is
    measured and bounded in pytest (tests/test_operators.py::
    test_lsh_multi_probe_recall) — recall table in README."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return similarity.lsh_topk(emb, queries_df, k=3)


@query("q_ann_ivf")  # Lloyd means are FP-order-sensitive -> rows-only
def q_ann_ivf(spark, sf_dir):
    """IVF-flat ANN: centroid-routed inverted lists (the data-adaptive
    alternative to q_ann_lsh's fixed hyperplane buckets). No DuckDB twin —
    the trained centroids depend on FP summation order — so rows-only here;
    recall vs the oracle-checked brute-force baseline is bounded in pytest
    (tests/test_operators.py::test_ivf_topk_recall) and the mapInPandas
    GEMM assignment is equality-tested against the JVM path."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk(emb, queries_df, k=3, nprobe=2)


# ---------------------------------------------------------------------------
# the crawl engine itself (rows-only: iterative, stateful, non-SQL)
# ---------------------------------------------------------------------------

@query("q_crawl_fetch_log")
def q_crawl_fetch_log(spark, sf_dir):
    from sitecheck_spark.crawl import CrawlConfig, crawl
    from sitecheck_spark.sources.corpus import generate_pages_spark, make_seeds_pdf

    pages = generate_pages_spark(spark, 60, seed=42)
    cfg = CrawlConfig(budget_per_host=4, max_waves=4, n_shards=4,
                      salt_buckets=2, run_checkers=False)
    res = crawl(spark, pages, make_seeds_pdf().url.tolist(), cfg)
    return res.fetch_log


def queries():
    return {name: spec["fn"] for name, spec in QUERIES.items()}


def oracle_sql():
    return {name: spec["sql"] for name, spec in QUERIES.items() if spec["sql"]}
