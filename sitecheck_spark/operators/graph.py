"""Link-graph operators for crawl prioritization.

A frontier at 10^10 URLs cannot fetch everything; the reference crawls
FIFO, but a scale crawler orders its priority queue by link centrality.
`pagerank` computes that signal as iterative DataFrame joins — the same
shape as the crawl loop itself (SURVEY.md §2.8 R2: priority is a column,
recomputed per wave).

Determinism contract: ranks are BIGINT fixed-point (units of 1e-12), all
updates use integer division (`div`), and integer sums are order-independent
— so the DuckDB oracle reproduces the exact same integers, no float-sum
ordering hazards. The damping update is

    rank' = 0.15 * R0 + 0.85 * sum_{src->node} (rank(src) div outdeg(src))

with R0 = 10^12 and x*0.85 computed overflow-safely as
85*(x div 100) + (85*(x mod 100)) div 100 — algebraically identical to
(85*x) div 100 for x >= 0, but never forms the product 85*x, which for a
hub node with ~1e5x-average in-rank would exceed Long.MAX (Spark non-ANSI
wraps silently; DuckDB raises — either way cross-engine exactness dies).

Dangling-node semantics (documented deviation from classic PageRank): mass
arriving at sink nodes is NOT redistributed uniformly — it decays out of
the system, exactly as in the "toy" damped update above. For crawl
prioritization this is the desired behavior (a page nobody can leave
should not inflate everyone else); the ranks are therefore NOT a
probability distribution (sum < n * R0 when sinks exist).

`connected_components` groups hosts into mirror clusters (the crawl's
per-component budgets), and `resolve_redirect_chains` follows redirect
edges to their final target, one join per hop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

R0 = 10**12  # fixed-point unit: rank 1.0 == 10^12

# Per-round shuffle sizing: label/rank state is ~24 B per node, so the
# session's corpus-scale shuffle.partitions over-partitions these rounds by
# orders of magnitude — at 5*10^4 nodes each of the ~13 stages per
# materialization job degrades into 64 near-empty tasks whose scheduling
# barriers dominate wall time (measured 9.2 s -> 2.3 s at sf1.0 for
# connected_components). One partition per 250k nodes (≈ join CPU of
# ~0.25 s/task), floor 8, capped at the session value — see functions/
# tuning.py for the shared mechanism.
_ROUND_ROWS_PER_PARTITION = 250_000


def _round_conf(spark, n_nodes: int | None):
    from sitecheck_spark.functions.tuning import scoped_shuffle_partitions

    return scoped_shuffle_partitions(spark, n_nodes, _ROUND_ROWS_PER_PARTITION)


def pagerank(
    nodes: DataFrame, edges: DataFrame, iterations: int = 5,
    checkpoint_every: int = 10, n_nodes: int | None = None,
) -> DataFrame:
    """(node, pr:bigint) after `iterations` damped power-iteration steps.

    nodes: one `node` column (every vertex, even sink/source-only ones);
    edges: (src, dst). Each iteration is one equi-join + one aggregation —
    shuffle keys stay (src|node), so at scale both sides pre-partition on
    the node id and every iteration reuses the same partitioning.

    Lineage grows linearly with iterations, so every `checkpoint_every`
    steps the rank table is localCheckpoint'ed (eager) to truncate it —
    without this, production iteration counts (30-50) balloon plan depth
    and driver re-analysis cost.

    `n_nodes` (optional size hint, same contract as connected_components):
    scopes the per-iteration shuffle width to the graph size (the rank
    state is ~24 B/node, so corpus-scale session partitioning degrades
    every iteration into near-empty tasks whose scheduling barriers
    dominate — measured 2.09 -> 1.50 s at sf1.0/50k nodes, local[32]). When
    that changes the width, the final ranks are materialized INSIDE the
    scope; when the derived width equals the session's, or with None, the
    result stays fully lazy.
    """
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    ranks = nodes.withColumn("pr", F.lit(R0).cast("long"))
    # overflow-safe 0.85 damping: never forms 85*s (see module docstring)
    damped = ("85 * (coalesce(s, 0) div 100) "
              "+ (85 * (coalesce(s, 0) % 100)) div 100")
    with _round_conf(nodes.sparkSession, n_nodes) as scope:
        prev_cp = None
        for i in range(iterations):
            contribs = (
                edges.join(deg, "src")
                .join(ranks.withColumnRenamed("node", "src"), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum(F.expr("pr div outdeg")).alias("s"))
            )
            ranks = (
                nodes.join(contribs, "node", "left")
                .select(
                    "node",
                    (F.lit(15 * R0 // 100) + F.expr(damped))
                    .cast("long").alias("pr"),
                )
            )
            if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
                ranks = ranks.localCheckpoint(eager=True)
                if prev_cp is not None:
                    # the new eager checkpoint is materialized, so the previous
                    # one is superseded — release its block-manager copy now
                    # instead of holding every 10th rank table until driver GC.
                    _release_leaf(prev_cp)
                prev_cp = ranks
        if scope.prev is not None:
            # shuffle.partitions is read at EXECUTION time: a lazy return
            # would plan every exchange at the restored session width, so a
            # scope that changed the width must materialize the result
            # while it is active. A no-op scope leaves the result lazy.
            ranks = ranks.localCheckpoint(eager=True)
            if prev_cp is not None:
                _release_leaf(prev_cp)
    return ranks


def _release_leaf(df: DataFrame) -> None:
    """Best-effort free of a superseded iteration leaf's block-manager copy.

    Handles both plain persisted frames (`unpersist`) and
    `localCheckpoint`'ed frames, whose blocks belong to the INTERNAL
    checkpointed RDD — a Dataset-level `unpersist` does not touch those, so
    without this every checkpointed round of an iterative operator stays in
    the block manager until the driver GCs the RDD handle. A released
    checkpoint leaf can no longer be recomputed (its lineage was truncated),
    so callers must only release leaves nothing live depends on.
    """
    try:
        df.unpersist()
    except Exception:
        pass
    try:
        plan = df._jdf.queryExecution().logical()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        # internal API (stable in practice, but never let cleanup kill the
        # job) — worst case the ContextCleaner frees it at driver GC.
        pass


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 40,
    checkpoint_every: int = 2, check_every: int = 2,
    edges_unique: bool = False, n_nodes: int | None = None,
) -> DataFrame:
    """(node, component) — component = the MINIMUM node id reachable from
    `node` over the undirected closure of `edges`. Web-graph companion to
    `pagerank`: mirror-site / duplicate-cluster discovery and per-component
    crawl budgeting (SURVEY.md §2.10d X26).

    Algorithm: HashMin label propagation + pointer jumping. Every round,
    each node's label drops to the min of its own and its neighbors'
    labels (one edges⋈labels join + groupBy-min, both keyed on the node
    id), then labels chase one level of indirection — lbl ← lbl(lbl) — via
    a self-join (pointer jumping / path halving). Propagation alone needs
    O(diameter) rounds; the jump step halves label-chain depth each round,
    so convergence is O(log n) rounds even on a path graph. Each round is
    a constant number of hash shuffles on the node key; nothing ever
    gathers at the driver but a one-row aggregate.

    Convergence detection without a row-compare join: labels are
    per-node non-increasing (every update is a min), so the fixpoint is
    reached exactly when SUM(label) stops falling. The sum runs in
    decimal(38,0) — exact at any node count, immune to bigint wrap — and
    doubles as the materializing action. It fires only every `check_every`
    rounds (monotonicity makes the sparser cadence sound: equality across a
    2-round gap forces equality at each intermediate round), which halves
    the per-round driver round-trips that dominate small-graph wall time.
    Superseded round leaves are released as soon as a newer round
    materializes — persisted leaves immediately, checkpoint leaves once a
    LATER checkpoint exists — so peak block-manager footprint is O(1)
    label-table copies, not O(rounds). At the HashMin fixpoint
    label(u) <= label(v) across every (symmetric) edge, hence labels are
    constant per component; the constant is an id of a member node and the
    component's min member labels itself, so the constant IS the min.
    Deterministic regardless of partitioning/execution order — min is
    order-independent — so the result is oracle-checkable (DuckDB
    recursive-CTE twin in queries.py).

    nodes: one `node` column (isolated nodes keep component = own id);
    edges: (src, dst), direction ignored, self-loops/duplicates fine.
    `edges_unique=True` skips the symmetrize-then-distinct shuffle (HashMin
    is duplicate-tolerant — min over a multiset — so dedup is purely a
    per-round join-size optimization; callers whose edge list is known
    unique, e.g. built by construction, save one full edge shuffle).
    `checkpoint_every=2` (the check cadence) is deliberate: driver-side
    Catalyst analysis of the round plans — each round is 3 joins with a
    self-join doubling subtree references — grows superlinearly with plan
    depth and dominates small-graph wall time, so lineage is truncated at
    every materialization; superseded checkpoints are released eagerly, so
    the block manager holds one label-table checkpoint at a time.
    Raises if `max_rounds` passes without reaching the fixpoint (the loud
    option: a silent partial labeling corrupts downstream grouping).
    `n_nodes` (optional size hint, the similarity-tier `n_vectors` pattern):
    scopes the per-round shuffle partition count to the graph size — see
    _round_partitions; None keeps the session partitioning untouched.
    """
    # All of this operator's actions (convergence sums, checkpoints, the
    # final eager materialization) run inside the function, so the round
    # partition scope below governs every exchange it plans.
    with _round_conf(nodes.sparkSession, n_nodes):
        sym = edges.select(F.col("src").alias("a"), F.col("dst").alias("b")).where(
            F.col("a") != F.col("b")
        )
        sym = sym.unionByName(
            sym.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        if not edges_unique:
            sym = sym.distinct()
        sym = sym.persist()
        lbl = nodes.select("node", F.col("node").alias("lbl")).persist()
        prev_sum = None
        persisted = [lbl]   # plain persisted leaves not yet superseded
        checkpoints = []    # localCheckpoint leaves (newest may be unmaterialized)
        try:
            for r in range(max_rounds):
                prop = (
                    sym.join(lbl.select(F.col("node").alias("b"), "lbl"), "b")
                    .groupBy(F.col("a").alias("node"))
                    .agg(F.min("lbl").alias("nbr_lbl"))
                )
                stepped = lbl.join(prop, "node", "left").select(
                    "node",
                    F.least("lbl", F.coalesce("nbr_lbl", "lbl")).alias("lbl"),
                )
                # pointer jump: lbl <- lbl(lbl). Labels always name nodes in the
                # same component, and lbl(x) <= x, so the chase only descends.
                jumped = stepped.join(
                    stepped.select(
                        F.col("node").alias("jnode"), F.col("lbl").alias("jlbl")
                    ),
                    F.col("lbl") == F.col("jnode"),
                    "left",
                ).select("node", F.coalesce("jlbl", "lbl").alias("lbl"))
                if checkpoint_every and (r + 1) % checkpoint_every == 0:
                    # non-eager: the next convergence check materializes (and
                    # truncates lineage) as part of its own job — no extra job
                    # just to checkpoint, unlike eager=True.
                    jumped = jumped.localCheckpoint(eager=False)
                    checkpoints.append(jumped)
                else:
                    jumped = jumped.persist()
                    persisted.append(jumped)
                lbl = jumped
                if (r + 1) % check_every and r + 1 < max_rounds:
                    continue  # odd round: chain lazily, no driver round-trip
                cur_sum = lbl.agg(
                    F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s")
                ).collect()[0]["s"]
                # lbl just materialized: every OLDER plain leaf is dead weight
                # (MEMORY_AND_DISK spills rather than evicts, so lbl's cached
                # copy never needs to recompute through them in local mode, and
                # the newest checkpoint covers the recompute path regardless).
                for h in persisted:
                    if h is not lbl:
                        _release_leaf(h)
                # identity check — DataFrame.__eq__ builds a Column, never use `in`
                persisted = [lbl] if any(h is lbl for h in persisted) else []
                # the newest checkpoint is an ancestor of (or is) lbl, hence
                # materialized by the sum above; all older ones are superseded.
                for h in checkpoints[:-1]:
                    _release_leaf(h)
                checkpoints = checkpoints[-1:]
                if cur_sum == prev_sum:
                    # materialize before the finally-block releases the chain
                    return lbl.select(
                        "node", F.col("lbl").alias("component")
                    ).localCheckpoint(eager=True)
                prev_sum = cur_sum
            raise RuntimeError(
                f"connected_components did not converge in {max_rounds} rounds"
            )
        finally:
            for h in persisted + checkpoints + [sym]:
                _release_leaf(h)


def resolve_redirect_chains(edges: DataFrame, max_hops: int = 4) -> DataFrame:
    """Resolve each redirect source's final destination over an edge table
    (src, dst), hop-capped. Returns (src, final, hops, capped).

    Each iteration is ONE equi-join advancing every unresolved cursor a hop
    — k joins total for a k-hop cap, never an all-pairs or transitive-
    closure expansion, so it scales to web-sized redirect tables. Cycles
    terminate via the cap and surface as capped=true (as does any chain
    longer than max_hops). Assumes functional edges (one outgoing redirect
    per src), which is what meta-refresh/3xx semantics give."""
    cur = edges.select("src", F.col("dst").alias("cur"), F.lit(1).alias("hops"))
    step = edges.select(F.col("src").alias("cur"), F.col("dst").alias("_d"))
    for _ in range(max_hops - 1):
        cur = (
            cur.join(step, "cur", "left")
            .select(
                "src",
                F.coalesce("_d", F.col("cur")).alias("cur"),
                F.when(F.col("_d").isNotNull(), F.col("hops") + 1)
                .otherwise(F.col("hops")).alias("hops"),
            )
        )
    more = edges.select(F.col("src").alias("cur")).distinct().withColumn(
        "_more", F.lit(True)
    )
    return (
        cur.join(more, "cur", "left")
        .select(
            "src", F.col("cur").alias("final"), "hops",
            F.coalesce("_more", F.lit(False)).alias("capped"),
        )
    )
