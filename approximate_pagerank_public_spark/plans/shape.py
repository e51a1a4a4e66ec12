"""Physical-plan shape: the operator census that plan tests pin.

:func:`plan_shape` counts the physical operators of a DataFrame's
executed plan by node name — ``Exchange`` (a shuffle),
``BroadcastExchange``, ``BroadcastHashJoin``, ``SortMergeJoin``,
``ShuffledHashJoin``, ``MapInArrow``, ``InMemoryTableScan`` and so on —
so a test can assert "one exchange, broadcast id joins" instead of
grepping ``explain()`` text, where "Exchange" also matches every
``BroadcastExchange`` and the whole subplan of each cached relation.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame

# codegen wrappers: they add a node per fused stage, not an operator
_WRAPPERS = ("WholeStageCodegen", "InputAdapter")


def plan_shape(df: DataFrame) -> Counter:
    """Physical operator names of ``df``'s executed plan, with counts.

    The walk passes through ``AdaptiveSparkPlan`` (its current plan —
    the final one once the frame has run, the initial one before) and
    through AQE's ``*QueryStage`` nodes to the stage's own plan. It
    skips the codegen wrappers, and a cached relation's
    ``InMemoryTableScan`` is a leaf: the plan that filled the cache is
    not part of this one.
    """
    shape: Counter = Counter()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        if not name.startswith(_WRAPPERS):
            shape[name] += 1
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return shape
