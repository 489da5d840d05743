"""Physical-plan introspection helpers.

Used by the plan-audit tests (tests/test_plans.py) and the plan dump
(tools/explain_audit.py, which regenerates PLANS.md on demand) to assert the properties the 100 TB
design depends on: pushdown, pruning, join strategy, shuffle counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The .explain('formatted') text, returned instead of printed."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def count_shuffles(df: DataFrame) -> int:
    """Number of shuffle exchanges (hash/range repartitions; broadcast
    exchanges excluded — they ship a small table, not the data).

    Counts formatted-mode operator headers ``(n) Exchange`` — the node
    name is exactly ``Exchange`` for shuffles and ``BroadcastExchange``
    for broadcasts, so the word-bounded match excludes the latter. (The
    previous implementation grepped the simple-mode rendering ``Exchange
    hashpartitioning(...)``, which never occurs in formatted output — it
    returned 0 for every plan and made the shuffle-count assertions
    vacuous.)"""
    import re

    plan = formatted_plan(df)
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def has_node(df: DataFrame, node_name: str) -> bool:
    return node_name in formatted_plan(df)


def _plan_nodes(node):
    """Pre-order walk of a JVM physical plan, looking through AQE's
    wrapper (its current plan: the initial one before execution) and
    through query stages."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(node.executedPlan())
        return
    if name.endswith("QueryStageExec"):
        yield from _plan_nodes(node.plan())
        return
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def broadcast_scans(df: DataFrame) -> list[list[str]]:
    """For each BroadcastExchange in ``df``'s physical plan, the root
    paths of the file scans in its subtree: what the plan ships to every
    task. Read off the plan tree, not the explain text."""
    out = []
    for node in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        if node.getClass().getSimpleName() != "BroadcastExchangeExec":
            continue
        paths = []
        for scan in _plan_nodes(node):
            if scan.getClass().getSimpleName() == "FileSourceScanExec":
                roots = scan.relation().location().rootPaths()
                paths += [roots.apply(i).toString() for i in range(roots.size())]
        out.append(sorted(paths))
    return out
