"""Walk an executed Spark physical plan from Python, through the nodes that
hold their subtree outside ``children()``: an adaptive plan (its current
plan), a query stage (the plan it ran) and an in-memory table scan (the
plan that filled the cache).

    from plan_nodes import aggregate_counts
    aggregate_counts(df._jdf.queryExecution().executedPlan())
"""

from __future__ import annotations

from collections import Counter

AGGREGATES = ("HashAggregate", "SortAggregate", "ObjectHashAggregate")


def children(node) -> list:
    """The nodes ``node`` reads, stage and cache boundaries included."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name.endswith("QueryStageExec"):
        return [node.plan()]
    if name == "InMemoryTableScanExec":
        return [node.relation().cachedPlan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def walk(plan):
    """Every node of ``plan``, parents before children."""
    yield plan
    for child in children(plan):
        yield from walk(child)


def aggregate_counts(plan) -> dict[str, int]:
    """How many of each physical aggregate operator ``plan`` runs."""
    names = Counter(node.nodeName() for node in walk(plan))
    return {a: names[a] for a in AGGREGATES}
