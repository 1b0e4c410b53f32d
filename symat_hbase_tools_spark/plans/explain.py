"""Physical-plan inspection helpers.

Used by tests to assert the *plan shape*, not just results: filters pushed to
the parquet scan, column pruning in ReadSchema, broadcast joins for dims,
no stray exchanges. This is how "would this survive 100×?" gets checked
mechanically on every CI run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm  # noqa: SLF001 — classic-mode plan access
    explain_mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(explain_mode)  # noqa: SLF001


def assert_pushed_filter(df: DataFrame, fragment: str) -> None:
    plan = plan_string(df)
    assert "PushedFilters" in plan, plan
    assert fragment in plan, f"expected pushed filter {fragment!r} in plan:\n{plan}"


def assert_read_schema_only(df: DataFrame, columns: set[str]) -> None:
    """Assert the parquet scan reads no more than `columns` (column pruning)."""
    import re

    plan = plan_string(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, f"no ReadSchema in plan:\n{plan}"
    read = {c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()}
    assert read <= columns, f"scan reads {read - columns} beyond {columns}:\n{plan}"


def assert_broadcast_join(df: DataFrame) -> None:
    plan = plan_string(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def count_exchanges(df: DataFrame) -> int:
    plan = plan_string(df, mode="simple")
    return plan.count("Exchange")


def assert_no_hof_in_filters(df: DataFrame) -> None:
    """Fail if any Filter node evaluates an interpreted higher-order
    function (``lambdafunction`` in its plan line).

    The round-9 lesson, turned into a gate: Catalyst pushes deterministic
    filters below projections and RE-INLINES the projected expression into
    the Filter — for an interpreted HOF (transform/filter/aggregate with a
    lambda, e.g. the shingle expression) that re-runs the whole per-row
    pass twice (measured 0.3 -> 5.4 s on minhash at sf0.1). The cure at
    each site is one of: filter on a pushable pre-condition of the source
    column instead (size(words) >= n), filter above a persist boundary, or
    drop a redundant filter the downstream op already implies. A Filter
    that HAS to evaluate a lambda wholesale is a plan bug under this
    engine's conventions; no current operator needs one.
    """
    plan = plan_string(df, mode="simple")
    offenders = [
        line
        for line in plan.splitlines()
        if "Filter" in line.split("(", 1)[0] and "lambdafunction" in line
    ]
    assert not offenders, (
        "interpreted HOF re-inlined into a Filter (double-eval class):\n"
        + "\n".join(offenders)
    )


def plan_children(node) -> list:
    """The children of ``node``, a JVM node of an executed physical plan,
    through adaptive query stages and reused exchanges. A pinned table's
    read (``TableCacheQueryStage``, ``InMemoryTableScan``) is a leaf: its
    cached plan ran once, outside this query's stages."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if name == "TableCacheQueryStage":
        return []
    if name.endswith("QueryStage"):
        return [node.plan()]
    if name == "ReusedExchange":
        return [node.child()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def executed_nodes(df: DataFrame) -> list:
    """Every node of ``df``'s executed physical plan, the final adaptive
    plan once an action has run (``plan_children``). A reused exchange's
    subtree is listed once per read."""
    nodes, stack = [], [df._jdf.queryExecution().executedPlan()]  # noqa: SLF001
    while stack:
        node = stack.pop()
        nodes.append(node)
        stack.extend(plan_children(node))
    return nodes
