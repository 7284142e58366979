"""Plan-shape counts from an executed Spark plan.

After its action, a DataFrame's ``queryExecution().executedPlan()`` is an
``AdaptiveSparkPlanExec``; its final plan is made of query stages that wrap
the operators that ran. ``to_tree`` copies that JVM tree into plain
``(name, metrics, children)`` tuples, looking through the adaptive node and
the stages, and ``counts`` reads the layer numbers off the copy.
"""

from __future__ import annotations

_SCANS = ("FileSourceScanExec", "BatchScanExec", "RowDataSourceScanExec")
_PYTHON_MARKERS = ("InPandas", "InArrow", "EvalPython", "PythonUDTF")


def _iterate(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def to_tree(node) -> tuple[str, dict, list]:
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return to_tree(node.executedPlan())
    if name.endswith("QueryStageExec"):
        return to_tree(node.plan())
    jm = node.metrics()
    metrics = {k: jm.apply(k).value() for k in _iterate(jm.keySet())}
    return name, metrics, [to_tree(c) for c in _iterate(node.children())]


def counts(tree: tuple[str, dict, list]) -> dict[str, float]:
    out = {"exchanges": 0, "python_nodes": 0, "scans": 0, "scan_s": 0.0}
    stack = [tree]
    while stack:
        name, metrics, children = stack.pop()
        if name.endswith("ExchangeExec"):
            out["exchanges"] += 1
        if any(m in name for m in _PYTHON_MARKERS):
            out["python_nodes"] += 1
        if name in _SCANS:
            out["scans"] += 1
            out["scan_s"] += float(metrics.get("scanTime", 0)) / 1e3
        stack.extend(children)
    return out


def dataframe_counts(df) -> dict[str, float]:
    """Counts for a DataFrame whose action has already run."""
    return counts(to_tree(df._jdf.queryExecution().executedPlan()))
