"""The one walker over a query's AQE-final physical plan.

``walk`` visits every node of an executed plan and follows the adaptive
wrappers (``AdaptiveSparkPlanExec.executedPlan``, ``*QueryStageExec.plan``)
that hide the final plan from ``children``. ``shape`` builds a query,
collects it and counts the nodes that decide its cost: parquet scans,
each exchange kind, the joins that do not survive scale, corpus
explodes and the Python-eval boundaries, plus the Spark jobs it ran.
``tests/plan_shapes.json`` pins these counts for the headline queries
(``tools/plan_shapes.py`` regenerates it).
"""

from __future__ import annotations

import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

COUNTED = (
    "FileSourceScanExec",
    "ShuffleExchangeExec",
    "BroadcastExchangeExec",
    "ReusedExchangeExec",
    "SortMergeJoinExec",
    "BroadcastNestedLoopJoinExec",
    "CartesianProductExec",
    "GenerateExec",
    # the Python boundary: row-at-a-time and Arrow UDFs, then the pandas
    # execs (SNIPPETS.md [2])
    "BatchEvalPythonExec",
    "ArrowEvalPythonExec",
    "MapInPandasExec",
    "FlatMapGroupsInPandasExec",
    "FlatMapCoGroupsInPandasExec",
    "AggregateInPandasExec",
    "WindowInPandasExec",
)

_JOB_GROUP = "spark.jobGroup.id"


def walk(node, visit: Callable[[object, str], None]) -> None:
    """Call ``visit(node, simple_class_name)`` on every node of a JVM
    SparkPlan, descending through the AQE wrappers into the final plan."""
    name = node.getClass().getSimpleName()
    visit(node, name)
    if name == "AdaptiveSparkPlanExec":
        walk(node.executedPlan(), visit)
    elif name.endswith("QueryStageExec"):
        walk(node.plan(), visit)
    else:
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i), visit)


def executed_plan(df: DataFrame):
    """The JVM executed plan of ``df``; AQE-final once ``df`` has run."""
    return df._jdf.queryExecution().executedPlan()


def shape(spark: SparkSession, build: Callable[[], DataFrame]) -> dict[str, int]:
    """Build a query with ``build()``, collect it, and count its plan.

    Returns the nonzero ``COUNTED`` node counts of the AQE-final plan and
    ``jobs``: the Spark jobs run while building and collecting, so eager
    work a query does before it returns (a fit, a ``localCheckpoint``)
    counts too. Jobs are read from a job group set for the call; the
    caller's group is restored after it."""
    sc = spark.sparkContext
    group = f"planstats-{uuid.uuid4().hex}"
    prev = sc.getLocalProperty(_JOB_GROUP)
    sc.setLocalProperty(_JOB_GROUP, group)
    try:
        df = build()
        df.collect()
    finally:
        sc.setLocalProperty(_JOB_GROUP, prev)
    counts = dict.fromkeys(COUNTED, 0)

    def visit(_node, name):
        if name in counts:
            counts[name] += 1

    walk(executed_plan(df), visit)
    out = {k: v for k, v in counts.items() if v}
    # job-start events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    out["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
    return out
