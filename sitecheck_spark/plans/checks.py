"""Physical-plan assertion hooks (SURVEY.md §4).

Plans are the contract with Catalyst: these helpers let tests assert the
optimizations the engine depends on actually happen — column pruning keeps
`html` out of non-parse scans, filters reach the parquet reader, small dims
broadcast, hot paths stay inside WholeStageCodegen.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def scan_read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every parquet scan in the plan."""
    return re.findall(r"ReadSchema: (struct<[^\n]*)", formatted_plan(df))


def pushed_filters(df: DataFrame) -> list[str]:
    return re.findall(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df))


def assert_column_never_scanned(df: DataFrame, column: str) -> None:
    schemas = scan_read_schemas(df)
    offenders = [s for s in schemas if f"{column}:" in s]
    assert not offenders, (
        f"column '{column}' appears in scan ReadSchema — pruning failed: {offenders}"
    )


def assert_filter_pushed(df: DataFrame, column: str) -> None:
    pushed = pushed_filters(df)
    assert any(column in p for p in pushed), (
        f"no pushed filter on '{column}'; PushedFilters={pushed}"
    )

def assert_broadcast_join(df: DataFrame) -> None:
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        "expected a broadcast join in plan:\n" + plan[:2000]
    )


def shuffle_exchanges_carrying(df: DataFrame, column: str) -> list[str]:
    """Detail blocks of shuffle Exchange operators whose input carries
    `column` — directly OR smuggled inside an aggregation buffer (a partial
    max_by/min_by over the column shuffles its bytes under an attribute
    named valueWithExtremumOrdering#N, which a naive column-name scan
    misses). BroadcastExchange is excluded — broadcast is the cheap path
    the engine chooses deliberately for small sides; what this guards is
    bytes of `column` crossing a *shuffle* boundary (the 100-TB killer for
    html:binary, SURVEY.md §4)."""
    plan = formatted_plan(df)
    # attributes whose payload IS the column: partial extremum buffers over
    # the column re-emit its bytes under fresh attribute ids
    carriers = {rf"\b{re.escape(column)}#\d+"}
    for block in plan.split("\n\n"):
        if re.search(rf"partial_(max|min)_by\({re.escape(column)}#\d+", block):
            m = re.search(r"Results \[\d+\]: \[([^\]]*)\]", block)
            if m:
                for attr in re.findall(r"(\w+)#(\d+)", m.group(1)):
                    if attr[0] != column and "Ordering" in attr[0]:
                        carriers.add(rf"\b{attr[0]}#{attr[1]}\b")
    hits = []
    for block in plan.split("\n\n"):
        if re.match(r"\(\d+\) Exchange", block) and any(
            re.search(pat, block) for pat in carriers
        ):
            hits.append(block)
    return hits


def count_shuffles(df: DataFrame) -> int:
    """Number of Exchange operators in the plan tree (not the detail dump)."""
    return len(re.findall(r"\(\d+\) Exchange", formatted_plan(df)))


def executed_nodes(df: DataFrame, into_caches: bool = False) -> list:
    """The JVM nodes of `df`'s executed physical plan (run an action on `df`
    first). Walks through adaptive-execution wrappers and query stages. A
    cached relation's InMemoryTableScan is a leaf, since the plan that
    built the cache is not re-run by this one, unless `into_caches`: then
    the walk goes on into the plan that built the cache."""
    nodes = []
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        nodes.append(node)
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif cls == "InMemoryTableScanExec" and into_caches:
            todo.append(node.relation().cachedPlan())
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return nodes


def executed_node_names(df: DataFrame) -> list[str]:
    """Node names of executed_nodes(df)."""
    return [node.nodeName() for node in executed_nodes(df)]
